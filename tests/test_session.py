"""Session factory: the lazy-zip-invalidation worker daemon, local[*]
parallelism and the DataFrame call-site capture it turns off."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from packs_spark import pyworker, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

eager_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13+ zipimport invalidates lazily; the daemon changes nothing",
)


@eager_zipimport
def test_workers_use_lazy_zip_importer(spark):
    assert spark.conf.get("spark.python.daemon.module") == "packs_spark.pyworker"

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import importlib
        import json
        import sys
        import zipimport

        kinds = sorted({type(f).__name__ for f in sys.path_importer_cache.values()
                        if isinstance(f, zipimport.zipimporter)})
        loaded = "pyspark.ml.linalg" in sys.modules
        importlib.invalidate_caches()
        path = importlib.import_module("pyspark.ml.linalg").__file__
        return pd.Series([json.dumps([kinds, loaded, path])] * len(s))

    kinds, loaded, path = json.loads(spark.range(1).select(probe("id")).first()[0])
    assert kinds == ["LazyZipImporter"]
    assert not loaded, "pick a module no earlier task imported in the worker"
    assert "pyspark.zip" in path


@pytest.fixture
def zip_path(tmp_path, monkeypatch):
    """A zip on sys.path, with the import hooks restored afterwards."""
    zpath = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("lzi_old.py", "X = 1\n")
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(zpath)
    yield zpath
    for name in ("lzi_old", "lzi_new"):
        sys.modules.pop(name, None)


def test_rewritten_archive_is_seen_after_invalidate_caches(zip_path):
    pyworker.install()
    assert importlib.import_module("lzi_old").X == 1
    with zipfile.ZipFile(zip_path, "w") as z:
        z.writestr("lzi_old.py", "X = 1\n")
        z.writestr("lzi_new.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert importlib.import_module("lzi_new").Y == 2


@eager_zipimport
def test_invalidation_rereads_each_archive_once_on_next_lookup(zip_path, monkeypatch):
    pyworker.install()
    importlib.import_module("lzi_old")
    finder = sys.path_importer_cache[zip_path]
    assert type(finder) is pyworker.LazyZipImporter
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or read(archive))
    sub = pyworker.LazyZipImporter(os.path.join(zip_path, "pkg"))  # shares the cache
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert finder.find_spec("lzi_old") is not None
    assert sub.find_spec("pkg.mod") is None
    assert reads == [zip_path]


def test_daemon_starts_from_any_cwd(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from packs_spark.session import get_spark

        spark = get_spark("cwd_test", master="local[2]")

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        print(sorted(r[0] for r in spark.range(4).select(plus_one("id")).collect()))
    """)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    r = subprocess.run([sys.executable, "-c", script], capture_output=True,
                       text=True, timeout=300, env=env, cwd=str(tmp_path))
    assert r.returncode == 0, r.stderr[-4000:]
    assert r.stdout.splitlines()[-1] == "[1, 2, 3, 4]"


def test_parallelism_of_local_star_honours_affinity(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 3}, raising=False)
    assert session._parallelism_of("local[*]") == 2
    monkeypatch.delattr(os, "sched_getaffinity")
    monkeypatch.setattr(os, "cpu_count", lambda: 5)
    assert session._parallelism_of("local[*]") == 5
    assert session._parallelism_of("local[3]") == 3
    assert session._parallelism_of("yarn") is None


def test_dataframe_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_compiling_the_gx_suite_makes_few_py4j_calls(spark, sf_dir, monkeypatch):
    """Building the registry GX suite's Columns (plus its other-table
    count job) takes ~1.3k-1.9k py4j round trips; with call-site capture
    on it took ~4.9k-5.4k.  The count does not depend on timing."""
    import py4j.clientserver
    import pyspark.errors.utils

    from packs_spark.operators.expectations import _compile
    from packs_spark.queries_packs import _GX_SUITE
    from packs_spark.registry import load

    df = load(spark, sf_dir, "orders")
    df.createOrReplaceTempView("suite_other_orders")
    # read the flag from this session's conf, not a cached earlier answer
    monkeypatch.setattr(pyspark.errors.utils, "_enable_debugging_cache", None)
    conn = py4j.clientserver.ClientServerConnection
    send, calls = conn.send_command, []

    def counting(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(conn, "send_command", counting)
    for exp in _GX_SUITE:
        _compile(df, exp)
    monkeypatch.setattr(conn, "send_command", send)
    assert 0 < len(calls) <= 2500
