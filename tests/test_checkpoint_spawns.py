"""Per-trigger file-system overhead of the streaming job, counted.

Without the native Hadoop library, Hadoop's local file system starts a
shell process for some file operations: `readlink` for the link checks
in `FileContext.rename`, `chmod` for a create with a permission.  Each
costs milliseconds from a large driver JVM, and the default checkpoint
manager paid several per checkpoint file, every trigger.
`session.get_session` selects the `FileSystem`-based manager instead.

The count is deterministic: a fresh process puts logging `readlink` /
`chmod` shims first on PATH before its JVM starts, runs
`run_product_view_job` for a few triggers, and reports which of the
shimmed commands touched the checkpoint and output directories.  The
same process checks the session defaults and their `extra_conf`
override, so the shared test session is never mutated."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import json, os, sys
repo, work = sys.argv[1:3]
sys.path.insert(0, repo)
from spark_nifi_kafka_connected_device_stream_spark.session import get_session
from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
    run_product_view_job,
)
from tests.test_streaming import _mk_events, _write_file

FS_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
              "FileSystemBasedCheckpointFileManager")
CHK_KEY = "spark.sql.streaming.checkpointFileManagerClass"
LIST_KEY = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
PROGRESS_KEY = "spark.ui.showConsoleProgress"

spark = get_session(app_name="spawn-count", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
defaults = {k: spark.conf.get(k, None) for k in (CHK_KEY, LIST_KEY, PROGRESS_KEY)}

in_dir = os.path.join(work, "in")
out_dir = os.path.join(work, "out")
chk_dir = os.path.join(work, "chk")
os.makedirs(in_dir)
ranking_q, parquet_q = run_product_view_job(spark, in_dir, out_dir, chk_dir, topk=3)
try:
    for t in range(3):
        events = _mk_events(6 * t, 30, start_i=100 * t)
        _write_file(in_dir, f"b{t}.json", [e[2] for e in events])
        ranking_q.processAllAvailable()
        parquet_q.processAllAvailable()
    batches = [ranking_q.lastProgress["batchId"], parquet_q.lastProgress["batchId"]]
finally:
    ranking_q.stop()
    parquet_q.stop()

# every file (checksum sidecars included) and directory the run created
checkpoint_entries = sum(1 + len(files) for _root, _dirs, files in os.walk(chk_dir))
override = get_session(extra_conf={CHK_KEY: "x.Manager", LIST_KEY: "7"})
overridden = {k: override.conf.get(k) for k in (CHK_KEY, LIST_KEY)}
print("RESULT " + json.dumps({
    "cpus": os.environ["SPARK_GRAFT_CPUS"],
    "defaults": defaults,
    "overridden": overridden,
    "fs_manager": FS_MANAGER,
    "batches": batches,
    "checkpoint_entries": checkpoint_entries,
    "chk_dir": chk_dir,
    "out_dir": out_dir,
}))
spark.stop()
"""


def _shim(shim_dir: str, name: str, log: str) -> None:
    real = shutil.which(name)
    assert real, f"{name} not on PATH"
    path = os.path.join(shim_dir, name)
    with open(path, "w") as f:
        f.write(
            "#!/bin/sh\n"
            f"printf '%s\\n' \"{name} $*\" >> '{log}'\n"
            f"exec '{real}' \"$@\"\n"
        )
    os.chmod(path, os.stat(path).st_mode | stat.S_IXUSR)


def test_checkpoint_writes_spawn_no_readlink(tmp_path):
    shim_dir = tmp_path / "shims"
    shim_dir.mkdir()
    log = str(tmp_path / "spawns.log")
    for name in ("readlink", "chmod"):
        _shim(str(shim_dir), name, log)
    work = tmp_path / "work"
    work.mkdir()
    env = dict(os.environ)
    env["PATH"] = f"{shim_dir}{os.pathsep}{env['PATH']}"
    env["SPARK_GRAFT_CPUS"] = "2"
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, REPO, str(work)],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("RESULT "))
    res = json.loads(line[len("RESULT "):])

    # the engine defaults set, and extra_conf overrides the two
    # file-system ones
    assert res["defaults"] == {
        "spark.sql.streaming.checkpointFileManagerClass": res["fs_manager"],
        "spark.sql.sources.parallelPartitionDiscovery.parallelism": res["cpus"],
        "spark.ui.showConsoleProgress": "false",
    }
    assert res["overridden"] == {
        "spark.sql.streaming.checkpointFileManagerClass": "x.Manager",
        "spark.sql.sources.parallelPartitionDiscovery.parallelism": "7",
    }
    assert min(res["batches"]) >= 2, res["batches"]  # several triggers ran

    with open(log) as f:
        spawns = [ln.split(" ", 1) for ln in f.read().splitlines()]
    on_paths = [
        (cmd, args) for cmd, args in spawns
        if res["chk_dir"] in args or res["out_dir"] in args
    ]
    readlinks = [args for cmd, args in on_paths if cmd == "readlink"]
    assert readlinks == [], f"{len(readlinks)} readlink spawns, e.g. {readlinks[:3]}"
    chmods = [
        args for cmd, args in on_paths if cmd == "chmod" and res["chk_dir"] in args
    ]
    # the one left per created file or directory needs libhadoop
    assert res["checkpoint_entries"] > 0
    assert len(chmods) <= res["checkpoint_entries"], (
        f"{len(chmods)} chmod spawns for {res['checkpoint_entries']} checkpoint "
        "files and directories"
    )
