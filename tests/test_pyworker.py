"""The warm worker image (``covid19_etl_pipeline_spark._pyworker``): its
keyed zip-directory invalidation, and ``get_spark`` running Python-backed
tasks on it from outside the checkout."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="Python 3.12 invalidates zip caches lazily"
)
def test_zip_directory_reread_only_when_archive_changes(tmp_path):
    from covid19_etl_pipeline_spark import _pyworker

    assert zipimport.zipimporter.invalidate_caches is _pyworker.invalidate_if_changed
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("mod_a.py", "A = 1\n")
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()  # first call keys the archive
    files = importer._files
    importer.invalidate_caches()
    assert importer._files is files  # unchanged archive: not re-read
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("mod_a.py", "A = 1\n")
        zf.writestr("mod_b.py", "B = 2\n")
    importer.invalidate_caches()
    assert importer._files is not files  # rewritten archive: re-read
    assert importer.find_spec("mod_b") is not None


def test_get_spark_runs_python_tasks_outside_checkout(tmp_path):
    """From a cwd outside the repo with PYTHONPATH unset, the daemon is
    still importable (``spark.executorEnv.PYTHONPATH``), so a local-list
    ``createDataFrame`` and a ``mapInPandas`` both run, in workers forked
    from the warm image."""
    script = f"""
import sys
sys.path.insert(0, {ROOT!r})
from covid19_etl_pipeline_spark.session import get_spark

def main_module(batches):
    import sys
    name = sys.modules["__main__"].__spec__.name
    for b in batches:
        yield b.assign(daemon=name)

spark = get_spark(master="local[2]")
assert spark.createDataFrame([(1,), (2,), (3,)], "x long").count() == 3
rows = spark.range(4).mapInPandas(main_module, "id long, daemon string").collect()
assert sorted(r.id for r in rows) == [0, 1, 2, 3], rows
print("daemons", sorted({{r.daemon for r in rows}}))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    assert "daemons ['covid19_etl_pipeline_spark._pyworker']" in res.stdout
