"""Envelope deserialization + schema grouping (SURVEY.md S2-S5, G1-G2).

The unit of data is a Debezium change event: destination (topic → table)
plus a ``{"schema": <connect-json-schema>, "payload": <flat-row>}`` value
envelope (reference: AbstractChangeConsumer.java:106-119, DebeziumEvent).

Reference pipeline per micro-batch: group events by destination, then by
exact value schema so each upload sees one uniform schema
(AbstractChangeConsumer.java:120-131); convert the Connect schema to a
Spark StructType and parse (BatchSparkChangeConsumer.java:85-96).

Spark-first re-expression — everything stays distributed:

  1. tombstone filter (value IS NULL) — P3
  2. one narrow projection splits schema/payload (``get_json_object``)
     and fingerprints the schema text with ``xxhash64`` — per-row work is
     two JSON pointer lookups + a 64-bit hash, all JVM-side codegen
  3. a tiny aggregation (distinct schema hash → first schema doc,
     min offset) is collected and sorted on the driver — #distinct
     schemas per batch is O(1), bounded by DDL changes inside the batch,
     so the collect is bytes
  4. per schema-group, ``F.from_json(payload, compiled_struct)`` parses
     rows with an explicit schema (no inference pass over the data)
  5. S5, schemas disabled: a group without a schema document infers its
     struct in the JVM with ``spark.read.json`` over the group's payload
     strings as a ``Dataset[String]`` — the reference's call
     (BatchSparkChangeConsumer.java:93-96). Nothing is collected to the
     driver and no Python worker starts. A group with no payload
     document at all (every envelope unparseable) gets an empty struct
     and no inference job; the runner quarantines it.

At 100 TB this plan is: one scan with pushed filters, a shuffle only for
the distinct-schemas agg (32 rows), then per-group narrow projections.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.connect_schema import compile_connect_schema

# Raw event-log columns (sources/event_log.py contract)
OFFSET = "offset"
DESTINATION = "destination"
KEY = "key"
VALUE = "value"


@dataclass
class SchemaGroup:
    """One (destination, value-schema) group of a micro-batch — the unit
    the reference uploads (AbstractChangeConsumer.java:132-134)."""

    destination: str
    schema_hash: int
    schema_json: str | None
    min_offset: int
    row_count_hint: int
    struct: T.StructType | None
    df: DataFrame  # typed payload columns + `offset`
    # primary-key field names parsed from the Debezium KEY envelope's
    # Connect schema (reference DebeziumBigqueryEvent.java:61-70 derives
    # clustering from the key schema); None when events carry no key
    key_fields: list[str] | None = None
    # every (schema_hash, schema_json) this group covers — one pair
    # normally, several when coalesce_schemas merged schema epochs;
    # feeds the runner's known-schema cache for the optimistic fast path
    member_schemas: list[tuple] | None = None
    # the group's raw event-log rows (the input's own columns) — what the
    # dead-letter spool writes when the whole group is quarantined
    raw: DataFrame | None = None
    _source: DataFrame | None = None  # persisted split-envelope df, if any


def parse_key_fields(key_schema_json: str | None) -> list[str] | None:
    """Field names of the key envelope's Connect schema, in order —
    the per-destination primary key (composite keys supported)."""
    if not key_schema_json:
        return None
    try:
        node = json.loads(key_schema_json)
    except (ValueError, TypeError):
        return None
    fields = node.get("fields") if isinstance(node, dict) else None
    if not fields:
        return None
    names = [f.get("field") for f in fields if isinstance(f, dict) and f.get("field")]
    return names or None


def filter_tombstones(df: DataFrame) -> DataFrame:
    """P3: drop events with null value (post-unwrap tombstones) —
    reference AbstractChangeConsumer.java:184-187."""
    return df.filter(F.col(VALUE).isNotNull())


def split_envelope(df: DataFrame) -> DataFrame:
    """S2/S3: add `schema_str` + `schema_hash` columns (one JSON pointer
    pass). The payload is NOT extracted as a string here — the typed
    parse reads it straight out of the raw value with a single
    `from_json(value, struct<payload:...>)`, so each row's JSON is
    scanned twice total (schema pointer + typed parse), not three times.

    NULL schema (schemas.enable=false) hashes to a sentinel so the
    grouping still works; parse then falls back to inference (S5)."""
    return df.withColumn(
        "schema_str", F.get_json_object(F.col(VALUE), "$.schema")
    ).withColumn("schema_hash", F.coalesce(F.xxhash64("schema_str"), F.lit(0)))


def _infer_struct(payloads: DataFrame, samples: int) -> T.StructType:
    """S5 fallback (schemas disabled): infer a struct from a one-column
    DataFrame of payload JSON strings, JVM-side — ``spark.read.json`` over
    it as a ``Dataset[String]`` (BatchSparkChangeConsumer.java:93-96).
    Null strings are skipped; the first ``samples`` non-null rows are read."""
    spark = payloads.sparkSession
    strings = payloads.toDF("json").filter(F.col("json").isNotNull()).limit(samples)
    jstrings = getattr(strings._jdf, "as")(spark._jvm.org.apache.spark.sql.Encoders.STRING())
    inferred = spark._jsparkSession.read().json(jstrings).schema().json()
    return T.StructType.fromJson(json.loads(inferred))


def _group_order(row) -> tuple:
    """Driver-side sort key of a group-metadata row: (destination,
    min offset) ascending, nulls first — Spark's orderBy order."""
    d, o = row[DESTINATION], row["min_offset"]
    return (d is not None, d or "", o is not None, o or 0)


def parse_envelope_batch(
    df: DataFrame,
    extra_cols: tuple[str, ...] = (OFFSET,),
    infer_samples: int = 100,
    persist: bool = False,
    extract_key_schema: bool = False,
    coalesce_schemas: bool = False,
) -> list[SchemaGroup]:
    """Parse a raw micro-batch into typed per-(destination, schema)
    groups, ordered by (destination, min offset) so that schema changes
    inside the batch apply in log order (SURVEY.md G2 'hard part').

    With coalesce_schemas=True, a destination's schema groups are merged
    into ONE group parsed under their union-by-name evolved schema
    (missing fields null — from_json parses by name, so v1 rows parse
    correctly under the v2 struct). This halves the number of full-window
    passes when a schema epoch falls inside the window: the sink applies
    the same union-by-name evolution it would have reached by applying
    the groups in offset order (add/widen evolution is commutative;
    incompatible changes raise either way). Groups without a carried
    schema (inference fallback) are kept separate.

    With persist=True the split envelope (the expensive per-row JSON
    pointer work) is cached across the grouping aggregate and the
    per-group parses — one materialization instead of one scan per
    downstream action. Caller must call ``unpersist_batch(groups)`` when
    the window is fully merged.
    """
    ev = split_envelope(filter_tombstones(df))
    if persist:
        ev = ev.persist()

    aggs = [
        F.first("schema_str", ignorenulls=True).alias("schema_str"),
        F.min(OFFSET).alias("min_offset"),
        F.count(F.lit(1)).alias("n"),
        # schema-less rows only (the CASE skips the pointer for the
        # rest): does the group hold any payload document to infer from?
        F.max(
            F.when(
                F.col("schema_str").isNull(),
                F.get_json_object(F.col(VALUE), "$.payload").isNotNull(),
            )
        ).alias("has_payload"),
    ]
    if extract_key_schema:
        # key schema (the per-destination PK definition): one extra JSON
        # pointer PER ROW before the aggregate — only evaluated when the
        # caller actually derives keys from the envelope (key_col=None)
        aggs.insert(
            1,
            F.first(F.get_json_object(F.col(KEY), "$.schema"), ignorenulls=True).alias(
                "key_schema_str"
            ),
        )
    # O(#groups) rows: sorting them here saves the exchange and the
    # range-sampling job an orderBy would add to the aggregate
    groups_meta = sorted(
        ev.groupBy(DESTINATION, "schema_hash").agg(*aggs).collect(), key=_group_order
    )

    def typed_parse(grp: DataFrame, struct: T.StructType) -> DataFrame:
        wrapper = T.StructType([T.StructField("payload", struct, True)])
        return grp.select(
            *[F.col(c) for c in extra_cols],
            F.from_json(F.col(VALUE), wrapper).alias("_env"),
        ).select(*extra_cols, "_env.payload.*")

    def mk_group(row, struct, grp_df, row_count, members=None) -> SchemaGroup:
        return SchemaGroup(
            destination=row[DESTINATION],
            schema_hash=row["schema_hash"],
            schema_json=row["schema_str"],
            min_offset=row["min_offset"],
            row_count_hint=row_count,
            struct=struct,
            df=typed_parse(grp_df, struct),
            key_fields=parse_key_fields(row["key_schema_str"]) if extract_key_schema else None,
            member_schemas=members
            if members is not None
            else [(row["schema_hash"], row["schema_str"])],
            raw=grp_df.select(*df.columns),
            _source=ev if persist else None,
        )

    def single_group(row) -> SchemaGroup:
        grp = ev.filter(
            (F.col(DESTINATION) == row[DESTINATION]) & (F.col("schema_hash") == row["schema_hash"])
        )
        struct = compile_connect_schema(row["schema_str"])
        if struct is None:
            # S5: infer JVM-side; a group with no payload document has
            # nothing to infer from and skips the job (empty struct)
            struct = T.StructType([])
            if row["has_payload"]:
                payloads = grp.select(F.get_json_object(F.col(VALUE), "$.payload"))
                struct = _infer_struct(payloads, infer_samples)
        return mk_group(row, struct, grp, row["n"])

    if not coalesce_schemas:
        return [single_group(row) for row in groups_meta]

    out: list[SchemaGroup] = []
    by_dest: dict[str, list] = {}
    for row in groups_meta:
        by_dest.setdefault(row[DESTINATION], []).append(row)
    for rows in by_dest.values():  # groups_meta order: by destination
        schemaful = [r for r in rows if r["schema_str"] is not None]
        if len(schemaful) > 1:
            from ..plans.laketable import evolve_schema

            union = compile_connect_schema(schemaful[0]["schema_str"])
            for r in schemaful[1:]:  # min_offset order → log order
                union, _ = evolve_schema(union, compile_connect_schema(r["schema_str"]))
            grp = ev.filter(
                (F.col(DESTINATION) == schemaful[0][DESTINATION])
                & F.col("schema_hash").isin([r["schema_hash"] for r in schemaful])
            )
            out.append(
                mk_group(
                    schemaful[0],
                    union,
                    grp,
                    sum(r["n"] for r in schemaful),
                    members=[(r["schema_hash"], r["schema_str"]) for r in schemaful],
                )
            )
            rows = [r for r in rows if r["schema_str"] is None]
        # a single schema group (or inference groups) use the per-group path
        out.extend(single_group(row) for row in rows)
    return out


def unpersist_batch(groups: list[SchemaGroup]) -> None:
    """Release the cached split-envelope DataFrame of a persisted batch."""
    seen = set()
    for g in groups:
        src = getattr(g, "_source", None)
        if src is not None and id(src) not in seen:
            src.unpersist()
            seen.add(id(src))


def rewrite_destination(destination: str, regexp: str | None = None, replacement: str = "", prefix: str = "") -> str:
    """P5: destination/table-name rewrite — driver-side metadata op
    (reference BatchSparkChangeConsumer.java:137-147)."""
    import re

    name = destination
    if regexp:
        name = re.sub(regexp, replacement, name)
    return f"{prefix}{name}"


def envelope_value(payload_struct_col, schema_json: str) -> F.Column:
    """Build a `{"schema":...,"payload":...}` envelope string column —
    used by the synthetic generator; schema doc is a per-epoch literal so
    the concat is pure codegen."""
    return F.concat(
        F.lit('{"schema":'),
        F.lit(schema_json),
        F.lit(',"payload":'),
        F.to_json(payload_struct_col),
        F.lit("}"),
    )


def parsed_schema_catalog(groups: list[SchemaGroup]) -> dict[int, str]:
    return {g.schema_hash: g.schema_json for g in groups if g.schema_json}
