from . import dedup, dedup_fuzzy, envelope, normalize, relational, similarity  # noqa: F401
