"""The warm daemon's zip-directory stamps.

Every Python task calls ``importlib.invalidate_caches()``; on Python 3.11
that re-reads the central directory of every zip archive on
``sys.path`` (pyspark.zip, py4j) once per importer. The daemon wraps
``zipimporter.invalidate_caches`` to skip archives whose stat stamp has
not changed since their directory was last read.
"""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter, so this process's zipimport and its
# transparent-hugepage setting stay untouched by the daemon's import.
_SEMANTICS = textwrap.dedent(
    """
    import importlib, sys, zipfile, zipimport

    import lucene_solr_spark.warm_daemon  # noqa: F401

    path = sys.argv[1]

    def write(names):
        with zipfile.ZipFile(path, "w") as z:
            for name in names:
                z.writestr(name, "")

    write(["zpkg/__init__.py", "zpkg/sub/__init__.py"])
    sys.path.insert(0, path)
    import zpkg.sub
    try:  # also opens the importer over the zpkg/sub/ prefix
        import zpkg.sub.b
    except ModuleNotFoundError:
        pass
    else:
        raise SystemExit("zpkg.sub.b imported before it was written")
    importlib.invalidate_caches()  # the daemon's pre-fork stamp

    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda a: reads.append(a) or read_directory(a)
    importlib.invalidate_caches()
    zipimport._read_directory = read_directory
    importers = sum(getattr(f, "archive", None) == path
                    for f in sys.path_importer_cache.values())
    print("importers", importers)
    print("reads", len(reads))

    write(["zpkg/__init__.py", "zpkg/sub/__init__.py", "zpkg/sub/b.py"])
    importlib.invalidate_caches()
    import zpkg.sub.b  # through the zpkg/sub/ importer
    print("changed archive imported")
    """
)


def test_invalidate_caches_skips_unchanged_zip_and_sees_changes(tmp_path):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run(
        [sys.executable, "-c", _SEMANTICS, str(tmp_path / "z.zip")],
        env=env, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    lines = out.stdout.splitlines()
    assert "importers 3" in lines, out.stdout  # zpkg zip at "", zpkg/, zpkg/sub/
    assert "reads 0" in lines, out.stdout
    assert "changed archive imported" in lines, out.stdout


def test_worker_tasks_skip_zip_rereads(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read_directory(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        # the daemon runs as __main__ (python -m), so name it by its spec
        owner = getattr(sys.modules.get(zipimport.zipimporter.invalidate_caches.__module__),
                        "__spec__", None)
        yield pd.DataFrame({"reads": [len(reads)],
                            "owner": [owner.name if owner is not None else ""]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(probe, "reads long, owner string").collect()[0])
    assert row.owner == "lucene_solr_spark.warm_daemon"
    assert row.reads == 0
