import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from debezium_server_batch_spark.session import build_session  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # an empty cache: the suite's session runs without a class archive,
    # whatever the user's cache holds
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("XDG_CACHE_HOME", str(tmp_path_factory.mktemp("cache")))
        s = build_session(master="local[4]", shuffle_partitions=4, app_name="dsbs-tests")
    yield s
    s.stop()


def python_worker_processes(root_pid: int) -> list[str]:
    """Command lines of the ``pyspark.daemon``/``pyspark.worker``
    processes below ``root_pid`` in the process tree, read from /proc.
    Python workers are forked by the JVM a session launches, so a
    driver's own pid covers them; the daemon outlives the job that
    started it, so one probe at the end sees every worker start."""
    parent, cmdline = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmdline[int(d)] = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        cmd = cmdline.get(pid, "")
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            found.append(cmd.strip())
        todo += children.get(pid, [])
    return found
