"""The Python worker daemon (audiopro_essentia_spark/daemon.py) and the
session defaults around it.

The zip test runs in a fresh interpreter: the daemon's patch applies to
`zipimport` for the whole process."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pyarrow as pa

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_py(code: str, env: dict | None = None, timeout: int = 60):
    r = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)],
        capture_output=True, text=True, cwd=REPO, timeout=timeout, env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return r.stdout


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path):
    zpath = str(tmp_path / "mods.zip")
    out = _run_py(
        f"""
        import importlib, os, sys, zipfile, zipimport
        from audiopro_essentia_spark.daemon import skip_unchanged_zip_rereads

        skip_unchanged_zip_rereads()

        zpath = {zpath!r}
        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("zmod_a.py", "X = 1\\n")
            z.writestr("zpkg/__init__.py", "")
            z.writestr("zpkg/inner.py", "Y = 2\\n")
        sys.path.insert(0, zpath)
        import zmod_a, zpkg.inner  # one importer for the zip, one for zpkg/
        assert zmod_a.X == 1 and zpkg.inner.Y == 2

        reads = []
        real = zipimport._read_directory
        def spy(archive):
            reads.append(archive)
            return real(archive)
        zipimport._read_directory = spy

        for _ in range(3):
            importlib.invalidate_caches()
        unchanged = reads.count(zpath)

        # rewrite the archive with a new module: what setup_spark_files'
        # invalidate_caches() is there for
        os.remove(zpath)
        with zipfile.ZipFile(zpath, "w") as z:
            z.writestr("zmod_a.py", "X = 1\\n")
            z.writestr("zmod_b.py", "Z = 3\\n")
            z.writestr("zpkg/__init__.py", "")
            z.writestr("zpkg/inner.py", "Y = 2\\n")
        importlib.invalidate_caches()
        import zmod_b
        print(unchanged, reads.count(zpath) > 0, zmod_b.Z)
        """
    )
    unchanged, reread, z = out.split()
    if sys.version_info < (3, 13):
        assert unchanged == "0"
    assert reread == "True" and z == "3"


def test_session_names_the_daemon_and_map_runs_through_it(spark):
    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "audiopro_essentia_spark.daemon"
    )

    def probe(batches):
        import sys
        import zipimport

        main = getattr(sys.modules["__main__"].__spec__, "name", None)
        patched = zipimport.zipimporter.invalidate_caches.__name__
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"main": [main] * b.num_rows, "inv": [patched] * b.num_rows}
            )

    rows = spark.range(0, 4, 1, 4).mapInArrow(probe, "main string, inv string").collect()
    assert len(rows) == 4
    assert {r.main for r in rows} == {"audiopro_essentia_spark.daemon"}
    if sys.version_info < (3, 13):
        assert {r.inv for r in rows} == {"invalidate_if_changed"}


def test_default_master_is_the_cpus_this_process_may_use():
    # a subprocess: getOrCreate in this one would hand back the suite's
    # session, whatever master get_spark asked for
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = _run_py(
        """
        import os
        from audiopro_essentia_spark.session import get_spark

        s = get_spark(app_name="default-master")
        print(s.sparkContext.master, s.conf.get("spark.sql.shuffle.partitions"))
        s.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "2"
        s = get_spark(app_name="override-master")
        print(s.sparkContext.master)
        s.stop()
        """,
        env=env,
        timeout=300,
    )
    n = len(os.sched_getaffinity(0))
    assert out.splitlines() == [f"local[{n}] {n}", "local[2]"], out
