"""The package's one parquet read path (``sources.read_parquet``): the
schema it hands Spark equals the one Spark's inference returns, for
every fixture table and every saved-store relation; a Spark-written
relation reads with no job; the inferred-schema memo misses on a changed
file or type conf; the local / non-local branches; and an ``ast`` guard
that keeps it the only parquet reader in the package."""

from __future__ import annotations

import ast
import itertools
import os
import pathlib
import shutil

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from presto_on_ray_spark.operators import dedup as dd
from presto_on_ray_spark.operators import pipeline_prep as pp
from presto_on_ray_spark.operators import similarity as sim
from presto_on_ray_spark.operators import textstats as ts
from presto_on_ray_spark.session import local_relation
from presto_on_ray_spark.sources import TABLES, parquet, read_parquet

_GROUPS = itertools.count()
PKG = pathlib.Path(__file__).resolve().parent.parent / "presto_on_ray_spark"
NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs(spark, action) -> tuple[int, object]:
    """(jobs ``action`` started, its result)."""
    sc = spark.sparkContext
    group = f"read-parquet-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _inferred(spark, p):
    return spark.read.parquet(p).schema


def test_fixture_tables_read_with_spark_inferred_schema(spark, sf_correct):
    """Fixture files carry no Spark schema: the first read infers (one
    job), later reads reuse the inferred StructType (no job), and both
    equal Spark's inference, nullability included."""
    for name in TABLES:
        p = os.path.join(sf_correct, f"{name}.parquet")
        want = _inferred(spark, p)
        parquet._inferred.clear()
        _, first = _jobs(spark, lambda: read_parquet(spark, p))
        jobs, again = _jobs(spark, lambda: read_parquet(spark, p))
        assert first.schema == want, name
        assert again.schema == want, name
        assert jobs == 0, name


def _vecs(spark, n):
    rows = [(i, [(i * 7 + j * 13) % 101 - 50 for j in range(64)]) for i in range(n)]
    return local_relation(spark, rows, "vec_id long, qv array<long>")


def _docs(spark, rows):
    return local_relation(spark, rows, "doc_id long, text string")


def _relation_dirs(os_path: str) -> list[str]:
    """Every relation directory of every generation kept in a store."""
    out = []
    for gen in sorted(os.listdir(os_path)):
        g = os.path.join(os_path, gen)
        if gen.startswith("gen-") and os.path.isdir(g):
            out += [os.path.join(g, r) for r in sorted(os.listdir(g))
                    if os.path.isdir(os.path.join(g, r))]
    return out


def test_saved_store_relations_read_without_a_job(spark, tmp_path):
    """Each relation of the ANN, dedup, segment-counts and
    classifier-weights stores, after a save and a merge (the weights
    store: two saves), reads with Spark's own schema and starts no job;
    the plain read of the same directory does start one."""
    ann = str(tmp_path / "ann")
    v = _vecs(spark, 34)
    sim.save_ann_index(sim.build_ann_index(v.filter(F.col("vec_id") < 30)), ann)
    sim.merge_into_saved_ann_index(spark, ann, v.filter(F.col("vec_id") >= 30))

    dedup = str(tmp_path / "dedup")
    dd.save_base_index(dd.build_base_index(_docs(spark, [
        (1, "a b c d e f g h"), (2, "p q r s t u v w")])), dedup, with_bands=True)
    dd.merge_into_saved_index(spark, dedup, _docs(spark, [(3, "a b c d e f x y")]))

    counts = str(tmp_path / "counts")
    pp.save_segment_counts(pp.segment_counts(_docs(spark, [(0, "x y z w")]), 4), counts)
    pp.merge_into_saved_segment_counts(
        spark, counts, _docs(spark, [(1, "x y z w")]), 4, admit_batch_id=3)

    weights = str(tmp_path / "weights")
    for rows in ([(0, 1), (1, 2)], [(0, -1), (1, -2)]):
        ts.save_classifier_weights(
            local_relation(spark, rows, "bucket long, wnum long"), weights)

    rels = [r for s in (ann, dedup, counts, weights) for r in _relation_dirs(s)]
    names = {os.path.basename(r) for r in rels}
    assert {"cents", "codebook", "codes", "digests", "shingles", "df",
            "prefix", "bands", "counts", "weights"} <= names
    for rel in rels:
        plain_jobs, plain = _jobs(spark, lambda: spark.read.parquet(rel))
        jobs, df = _jobs(spark, lambda: read_parquet(spark, rel))
        assert df.schema == plain.schema, rel
        assert sorted(df.collect()) == sorted(plain.collect()), rel
        assert (jobs, plain_jobs >= 1) == (0, True), rel
    jobs, _ = _jobs(spark, lambda: sim.load_ann_index(spark, ann))
    assert jobs == 0


def test_memo_misses_on_a_rewritten_file_or_a_flipped_type_conf(
        spark, sf_dir, tmp_path):
    p = str(tmp_path / "orders.parquet")
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), p)
    read = lambda: read_parquet(spark, p)  # noqa: E731
    assert _jobs(spark, read)[0] >= 1
    assert _jobs(spark, read)[0] == 0

    # new size
    t = pq.read_table(p)
    pq.write_table(t.slice(0, t.num_rows // 2), p)
    jobs, df = _jobs(spark, read)
    assert jobs >= 1 and df.count() == t.num_rows // 2
    assert _jobs(spark, read)[0] == 0

    # same size, new mtime_ns
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert _jobs(spark, read)[0] >= 1
    assert _jobs(spark, read)[0] == 0

    old = spark.conf.get(NANOS)
    spark.conf.set(NANOS, "false" if old == "true" else "true")
    try:
        assert _jobs(spark, read)[0] >= 1
        assert _jobs(spark, read)[0] == 0
    finally:
        spark.conf.set(NANOS, old)
    assert _jobs(spark, read)[0] == 0


def test_local_uri_and_non_local_branches(spark, tmp_path, monkeypatch):
    rel = str(tmp_path / "w")
    local_relation(spark, [(1, "a")], "k long, v string").write.parquet(rel)
    want = spark.read.parquet(rel).schema

    # a file: URI reads the same directory's footer, with no job
    jobs, df = _jobs(spark, lambda: read_parquet(spark, "file:" + rel))
    assert (jobs, df.schema) == (0, want)
    assert parquet._known_schema(spark, "file://" + rel) == (want, None)

    # non-local locations, globs and a mergeSchema session read plainly
    for uri in ("hdfs://namenode:8020/x", "s3a://bucket/x", rel + "/*.parquet"):
        assert parquet._known_schema(spark, uri) == (None, None), uri
    # layouts whose files Spark picks by other rules read plainly too
    for sub in ("_spark_metadata", "part=1"):
        other = tmp_path / sub.replace("=", "") / "t"
        shutil.copytree(rel, other)
        (other / sub).mkdir()
        assert parquet._known_schema(spark, str(other)) == (None, None), sub
    monkeypatch.setattr(parquet, "_default_fs_local", lambda s: False)
    assert parquet._known_schema(spark, rel) == (None, None)
    monkeypatch.undo()
    spark.conf.set(parquet.MERGE_SCHEMA, "true")
    try:
        assert parquet._known_schema(spark, rel) == (None, None)
    finally:
        spark.conf.unset(parquet.MERGE_SCHEMA)
    assert parquet._known_schema(spark, rel) == (want, None)


def test_missing_and_empty_paths_raise_sparks_errors(spark, tmp_path):
    empty = tmp_path / "empty"
    (empty / "_temporary").mkdir(parents=True)
    for p in (str(tmp_path / "missing"), str(empty)):
        with pytest.raises(AnalysisException) as plain:
            spark.read.parquet(p)
        with pytest.raises(AnalysisException) as ours:
            read_parquet(spark, p)
        assert ours.value.getCondition() == plain.value.getCondition()


def _parquet_reads(tree: ast.AST):
    """Line numbers of ``X.read.parquet(...)``, ``X.read.schema(...)
    .parquet(...)`` and ``X.read.format("parquet")`` calls."""
    def is_read(node):
        return isinstance(node, ast.Attribute) and node.attr == "read"

    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        f = node.func
        if f.attr == "parquet" and (is_read(f.value) or (
                isinstance(f.value, ast.Call)
                and isinstance(f.value.func, ast.Attribute)
                and f.value.func.attr == "schema" and is_read(f.value.func.value))):
            yield node.lineno
        elif (f.attr == "format" and is_read(f.value) and node.args
              and isinstance(node.args[0], ast.Constant)
              and node.args[0].value == "parquet"):
            yield node.lineno


def test_no_parquet_read_outside_read_parquet():
    """Every batch parquet read in the package goes through
    ``sources.read_parquet``: a direct reader call would run Spark's
    schema-inference job again. ``readStream`` is not a batch read."""
    offenders, allowed_calls = [], 0
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed: set[int] = set()
        if path.relative_to(PKG).as_posix() == "sources/parquet.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "read_parquet":
                    allowed |= {n.lineno for n in ast.walk(node) if hasattr(n, "lineno")}
        for line in _parquet_reads(tree):
            if line in allowed:
                allowed_calls += 1
            else:
                offenders.append(f"{path.relative_to(PKG.parent)}:{line}")
    assert offenders == []
    assert allowed_calls == 2  # the read with a known schema, and without


def test_guard_sees_each_reader_spelling():
    src = """
spark.read.parquet(p)
spark.read.schema(s).parquet(p)
df.sparkSession.read.format("parquet").load(p)
spark.readStream.parquet(p)
spark.readStream.schema(s).parquet(p)
spark.read.format("csv").load(p)
"""
    assert sorted(_parquet_reads(ast.parse(src))) == [2, 3, 4]
