"""Python workers started by get_spark's daemon entry
(vectortiles_spark._worker_daemon): a reused worker keeps its zip-archive
directory caches across tasks, and files shipped with addPyFile during the
session still import in later tasks."""

import uuid
import zipfile


def _zip_caches_by_pid(spark):
    """{pid: {importer path: id of its cached archive directory}}, taken at
    the end of each task of a 4-task job."""

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        ids = [
            f"{path}\t{id(imp._files)}"
            for path, imp in sorted(sys.path_importer_cache.items())
            if isinstance(imp, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "ids": ["\n".join(ids)]})

    rows = spark.range(0, 8, numPartitions=4).mapInArrow(probe, "pid long, ids string").collect()
    out = {}
    for r in rows:
        out.setdefault(r.pid, []).append(dict(line.split("\t") for line in r.ids.splitlines()))
    return out


def test_reused_worker_keeps_zip_directory_caches(spark):
    # idle workers are handed out first-in first-out, so with more idle
    # workers than tasks per job consecutive jobs run on different ones:
    # repeat the job until a worker has served two of them
    seen, jobs_by_pid = {}, {}
    for job in range(12):
        for pid, snaps in _zip_caches_by_pid(spark).items():
            seen.setdefault(pid, []).extend(snaps)
            jobs_by_pid.setdefault(pid, set()).add(job)
        if any(len(j) > 1 for j in jobs_by_pid.values()):
            break
    reused = [pid for pid, j in jobs_by_pid.items() if len(j) > 1]
    assert reused, "no Python worker was reused between two jobs"
    for pid in reused:
        snaps = seen[pid]
        common = set.intersection(*(set(s) for s in snaps))
        assert common, "worker has no cached zipimporter"
        for path in common:
            assert len({s[path] for s in snaps}) == 1, path


def test_add_py_file_mid_session_imports(spark, tmp_path):
    def touch_workers(batches):
        yield from batches

    df = spark.range(0, 8, numPartitions=4)
    df.mapInArrow(touch_workers, df.schema).collect()

    tag = uuid.uuid4().hex[:12]
    mod_name, pkg_name = f"vt_added_mod_{tag}", f"vt_added_pkg_{tag}"
    py = tmp_path / f"{mod_name}.py"
    py.write_text("VALUE = 11\n")
    zp = tmp_path / f"{pkg_name}.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr(f"{pkg_name}/__init__.py", "VALUE = 31\n")
    sc = spark.sparkContext
    sc.addPyFile(str(py))
    sc.addPyFile(str(zp))

    def use_added(batches):
        import importlib

        import pyarrow as pa

        v = importlib.import_module(mod_name).VALUE + importlib.import_module(pkg_name).VALUE
        for b in batches:
            yield pa.RecordBatch.from_pydict({"v": [v] * b.num_rows})

    rows = df.mapInArrow(use_added, "v long").collect()
    assert len(rows) == 8
    assert {r.v for r in rows} == {42}
