"""The engine's PySpark worker daemon: a zip archive is re-read on
``importlib.invalidate_caches()`` only when it changed, and local
sessions launch their Python workers through it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from databricks_end_to_end_streaming_spark import worker_daemon
from databricks_end_to_end_streaming_spark.session import DAEMON_MODULE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_if_changed
    )
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    try:
        assert importlib.import_module("wd_mod_a").X == 1
        importlib.invalidate_caches()  # first sight of the archive: one read
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"wd_mod_a": "X = 1\n", "wd_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("wd_mod_b").Y == 2
    finally:
        for name in ("wd_mod_a", "wd_mod_b"):
            sys.modules.pop(name, None)
        worker_daemon._seen.pop(archive, None)


def test_local_session_names_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == DAEMON_MODULE
    parent = conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)[0]
    assert os.path.samefile(parent, REPO)


def test_driver_outside_checkout_runs_python_tasks(tmp_path):
    """The daemon module must import in a worker even when neither the
    driver's cwd nor PYTHONPATH points at the checkout."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from databricks_end_to_end_streaming_spark import get_spark
        spark = get_spark(
            "daemon-outside-checkout",
            master="local[1]",
            extra_conf={{
                "spark.driver.memory": "1g",
                "spark.ui.showConsoleProgress": "false",
            }},
        )
        rows = spark.range(5, numPartitions=1).mapInArrow(
            lambda it: it, "id long"
        ).collect()
        print("IDS", sorted(r.id for r in rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "IDS [0, 1, 2, 3, 4]" in out.stdout
