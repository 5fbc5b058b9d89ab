"""The Python worker daemon (baloo_spark._pydaemon) and the rule that
selects it (baloo_spark.session._daemon_conf)."""

import importlib
import os
import sys
import zipfile

import pandas as pd
import pytest


def test_daemon_conf_only_where_workers_import_it():
    from baloo_spark.session import _daemon_conf
    root = "/src/app"
    key, ours = "spark.python.daemon.module", "baloo_spark._pydaemon"
    for master in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert _daemon_conf(master, {}, [root], root) == {key: ours}
    # executors elsewhere: not a local master
    for master in ("yarn", "spark://h:7077", "k8s://h:443",
                   "local-cluster[2,1,1024]"):
        assert _daemon_conf(master, {}, [root], root) == {}
    # workers cannot import this copy: none on their path, or another
    # copy of baloo_spark comes first (e.g. the driver's cwd)
    assert _daemon_conf("local[4]", {}, [], root) == {}
    assert _daemon_conf("local[4]", {}, ["/elsewhere", root], root) == {}
    # the caller's own daemon stays
    conf = {key: "my.daemon"}
    assert _daemon_conf("local[4]", conf, [root], root) == {}


def _zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def gated(monkeypatch):
    import zipimport
    from baloo_spark import _pydaemon
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pydaemon._invalidate_caches)
    return zipimport


def test_gate_rereads_only_a_changed_archive(gated, tmp_path, monkeypatch):
    """An archive rewritten in place (new size, or same size and a new
    mtime) is re-read on ``importlib.invalidate_caches()``; an unchanged
    one keeps its directory object; a removed one leaves the cache."""
    zipimport = gated
    arc = str(tmp_path / "mods.zip")
    _zip(arc, {"pydaemon_mod_a": 1})
    monkeypatch.syspath_prepend(arc)
    for name in ("pydaemon_mod_a", "pydaemon_mod_b", "pydaemon_mod_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("pydaemon_mod_a").VALUE == 1

    importlib.invalidate_caches()
    files = zipimport._zip_directory_cache[arc]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[arc] is files

    # new size
    _zip(arc, {"pydaemon_mod_a": 1, "pydaemon_mod_b": 2})
    importlib.invalidate_caches()
    assert importlib.import_module("pydaemon_mod_b").VALUE == 2

    # same size, new mtime
    size = os.stat(arc).st_size
    _zip(arc, {"pydaemon_mod_a": 1, "pydaemon_mod_c": 3})
    assert os.stat(arc).st_size == size
    st = os.stat(arc)
    os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert importlib.import_module("pydaemon_mod_c").VALUE == 3

    os.remove(arc)
    importlib.invalidate_caches()
    assert arc not in zipimport._zip_directory_cache
    sys.path_importer_cache.pop(arc, None)


def _zip_cache_probe():
    """A pandas_udf recording, per batch, the worker pid and whether
    that worker's ``pyspark.zip`` directory is the object its previous
    batch saw (None on its first)."""
    from pyspark.sql.functions import pandas_udf

    def probe(s: pd.Series) -> pd.Series:
        import zipimport
        key = next(k for k in zipimport._zip_directory_cache
                   if os.path.basename(k) == "pyspark.zip")
        cur = zipimport._zip_directory_cache[key]
        prev = getattr(zipimport, "_baloo_test_seen", None)
        zipimport._baloo_test_seen = cur
        same = "" if prev is None else str(prev is cur)
        return pd.Series([f"{os.getpid()}:{same}"] * len(s))

    return pandas_udf(probe, "string")


def test_reused_workers_keep_the_pyspark_zip_directory(spark):
    """Two pandas_udf jobs back to back: some worker serves both, and
    every batch after a worker's first finds the same ``pyspark.zip``
    directory object (Spark's own daemon re-reads it on every task)."""
    probe = _zip_cache_probe()
    jobs = []
    for _ in range(2):
        rows = (spark.range(0, 64, 1, 4).select(probe("id").alias("p"))
                .distinct().collect())
        jobs.append({tuple(r.p.split(":")) for r in rows})
    pids = [{pid for pid, _ in job} for job in jobs]
    assert pids[0] & pids[1], pids
    repeats = [same for job in jobs for _, same in job if same]
    assert repeats and set(repeats) == {"True"}, jobs


def test_add_py_file_imports_in_a_udf(spark, tmp_path):
    """A zip added to the live session imports inside a worker."""
    from pyspark.sql.functions import pandas_udf
    arc = str(tmp_path / "pydaemon_added.zip")
    _zip(arc, {"pydaemon_added_mod": 41})
    spark.sparkContext.addPyFile(arc)

    def plus(s: pd.Series) -> pd.Series:
        import pydaemon_added_mod
        return s + pydaemon_added_mod.VALUE

    got = (spark.range(0, 8, 1, 2).select(pandas_udf(plus, "long")("id"))
           .toPandas().iloc[:, 0].tolist())
    assert got == list(range(41, 49))
