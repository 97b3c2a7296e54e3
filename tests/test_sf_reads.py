"""``read_sf_table``: the one reader of sf tables. A later read of an
unchanged file reuses the schema Spark inferred the first time, so it
launches no job; anything that could change the inferred schema (a
rewritten file, another sf dir, a parquet inference setting) is
inferred afresh. ``register_views`` keeps a view it made while the
view's file is unchanged and the session still holds that very view;
a rewritten file, another sf dir, a view registered or dropped by hand
and a new session each get a new view."""

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _jobs_in(spark, group, fn):
    """Run ``fn`` in its own job group; return (fn's result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    # a job's end reaches the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _sf_copy(tmp_path, src="/root/testdata/sf0.001"):
    """An sf dir whose nine non-``documents`` tables link to ``src``."""
    from lingua_spark.ops.queries import TABLES

    d = tmp_path / "sf"
    d.mkdir()
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{src}/{t}.parquet", d / f"{t}.parquet")
    return d


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_known_schema_equals_inferred_schema(spark, sf_dir):
    from lingua_spark.ops import queries
    from lingua_spark.ops.queries import TABLES, read_sf_table

    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        read_sf_table(spark, sf_dir, t)
        stamp, _ = spark._lingua_sf_schemas[path]
        assert stamp == queries._sf_stamp(spark, path)
        known = read_sf_table(spark, sf_dir, t)
        inferred = spark.read.parquet(path)
        assert known.schema.json() == inferred.schema.json(), t


def test_known_schema_read_launches_no_job(spark):
    from lingua_spark.ops.queries import read_sf_table

    sf_dir = SF_DIRS[0]
    read_sf_table(spark, sf_dir, "lineitem")
    df, jobs = _jobs_in(spark, "sf-read-known",
                        lambda: read_sf_table(spark, sf_dir, "lineitem"))
    assert jobs == []
    assert "l_orderkey" in df.columns
    # the count is live: an inferring read of the same file launches one
    _, jobs = _jobs_in(spark, "sf-read-inferred",
                       lambda: spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    assert len(jobs) >= 1


def test_rewritten_file_is_inferred_afresh(spark, tmp_path):
    from lingua_spark.ops.queries import register_views

    d = _sf_copy(tmp_path)
    docs = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    pq.write_table(docs, d / "documents.parquet")
    register_views(spark, str(d))
    register_views(spark, str(d))
    assert "extra" not in spark.table("documents").columns

    # same path (and, with pyarrow, the same inode), one column more
    pq.write_table(
        docs.append_column("extra", pc.multiply(docs["doc_id"], 3)),
        d / "documents.parquet",
    )
    register_views(spark, str(d))
    got = spark.sql(
        "SELECT count(*) AS n, sum(extra - 3 * doc_id) AS z FROM documents"
    ).collect()[0]
    assert (got.n, got.z) == (docs.num_rows, 0)


def test_unchanged_views_are_reused(spark):
    from lingua_spark.ops.queries import TABLES, register_views

    sf_dir = SF_DIRS[0]
    register_views(spark, SF_DIRS[1])
    assert register_views(spark, sf_dir) == TABLES
    before = spark.table("documents").count()
    made, jobs = _jobs_in(spark, "sf-views-reused",
                          lambda: register_views(spark, sf_dir))
    assert made == [] and jobs == []
    assert spark.table("documents").count() == before


@pytest.mark.parametrize("how", ["by_hand", "dropped"])
def test_view_changed_by_hand_is_restored(spark, how):
    from lingua_spark.ops.queries import register_views

    sf_dir = SF_DIRS[0]
    register_views(spark, sf_dir)
    want = spark.table("documents").count()
    if how == "by_hand":
        spark.createDataFrame([(0, "x")], ["doc_id", "text"]) \
            .createOrReplaceTempView("documents")
        assert spark.table("documents").count() == 1
    else:
        assert spark.catalog.dropTempView("documents")
    assert register_views(spark, sf_dir) == ["documents"]
    assert spark.table("documents").count() == want
    assert register_views(spark, sf_dir) == []


def test_new_session_gets_its_own_views(spark):
    from lingua_spark.ops.queries import TABLES, register_views

    sf_dir = SF_DIRS[0]
    register_views(spark, sf_dir)
    other = spark.newSession()
    assert not other.catalog.tableExists("documents")
    assert register_views(other, sf_dir) == TABLES
    assert other.table("documents").count() == spark.table("documents").count()
    assert register_views(other, sf_dir) == []
    assert register_views(spark, sf_dir) == []


def test_second_sf_dir_replaces_views(spark):
    from lingua_spark.ops.queries import TABLES, register_views

    small, big = SF_DIRS
    register_views(spark, small)
    register_views(spark, big)
    for t in TABLES:
        assert spark.table(t).count() == pq.read_metadata(
            f"{big}/{t}.parquet"
        ).num_rows, t
    # both documents tables have 500 rows, so compare their content
    def chars(sf_dir):
        return pc.sum(pq.read_table(f"{sf_dir}/documents.parquet")["n_chars"]).as_py()

    assert chars(small) != chars(big)
    got = spark.sql("SELECT sum(n_chars) AS s FROM documents").collect()[0].s
    assert got == chars(big)


def test_directory_form_table_reads_as_before(spark, tmp_path):
    from lingua_spark.ops.queries import read_sf_table, register_views

    d = _sf_copy(tmp_path)
    (d / "documents.parquet").mkdir()
    docs = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    pq.write_table(docs.slice(0, 200), d / "documents.parquet" / "part-0.parquet")
    pq.write_table(docs.slice(200), d / "documents.parquet" / "part-1.parquet")
    for _ in range(2):
        assert read_sf_table(spark, str(d), "documents").count() == docs.num_rows
    assert f"{d}/documents.parquet" not in spark._lingua_sf_schemas
    register_views(spark, str(d))
    assert spark.table("documents").count() == docs.num_rows


def test_parquet_inference_setting_is_part_of_the_key(spark, tmp_path):
    from lingua_spark.ops.queries import read_sf_table

    d = tmp_path / "sf"
    d.mkdir()
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}),
                   d / "events.parquet")
    conf = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert read_sf_table(spark, str(d), "events").schema["b"].dataType.typeName() == "binary"
        spark.conf.set(conf, "true")
        assert read_sf_table(spark, str(d), "events").schema["b"].dataType.typeName() == "string"
    finally:
        spark.conf.set(conf, old)


def test_relative_path_is_not_cached(spark):
    from lingua_spark.ops import queries

    assert queries._sf_stamp(spark, "testdata/documents.parquet") is None


@pytest.mark.parametrize("precomputed", [False, True])
@pytest.mark.parametrize(
    "entry",
    ["corpus_select_final", "conv_select_with_neardup",
     "transcript_export_full"],
)
def test_composition_registers_views_once(spark, monkeypatch, entry,
                                          precomputed):
    """Each composition registers the views once per call: through its
    nested clustering entry when it runs one, else itself. The views then
    belong to the call's sf dir, whatever was registered before."""
    from lingua_spark.ops import queries as Q

    small, big = SF_DIRS
    kw = {}
    if precomputed:
        if entry == "corpus_select_final":
            kw["dedup"] = Q.dedup_minhash_cc(spark, small)
        else:
            kw["neardup"] = Q.conv_minhash_cc(spark, small)
    Q.register_views(spark, big)
    calls = []
    real = Q.register_views

    def counting(spark_, sf_dir):
        calls.append(sf_dir)
        real(spark_, sf_dir)

    monkeypatch.setattr(Q, "register_views", counting)
    getattr(Q, entry)(spark, small, **kw)
    assert calls == [small]
    for t in Q.TABLES:
        assert spark.table(t).count() == pq.read_metadata(
            f"{small}/{t}.parquet"
        ).num_rows, t
    got = spark.sql("SELECT sum(n_chars) AS s FROM documents").collect()[0].s
    assert got == pc.sum(
        pq.read_table(f"{small}/documents.parquet")["n_chars"]
    ).as_py()
