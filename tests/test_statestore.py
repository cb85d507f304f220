"""Snapshot store: atomic pointer commits, append semantics, history."""

import os

from searchengine_spark.sources.statestore import TableStore


def test_commit_read_roundtrip(spark, tmp_path):
    st = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    assert not st.exists("t")
    v = st.commit("t", df)
    assert v == 1 and st.exists("t")
    got = sorted((r["id"], r["v"]) for r in st.read("t").collect())
    assert got == [(1, "a"), (2, "b")]


def test_append_mode_unions(spark, tmp_path):
    st = TableStore(spark, str(tmp_path))
    st.commit("t", spark.createDataFrame([(1,)], "id int"))
    st.commit("t", spark.createDataFrame([(2,)], "id int"), mode="append")
    assert sorted(r["id"] for r in st.read("t").collect()) == [1, 2]
    # previous snapshot still readable (time travel within retention)
    assert [r["id"] for r in st.read("t", version=1).collect()] == [1]


def test_retention_keeps_last_three(spark, tmp_path):
    st = TableStore(spark, str(tmp_path))
    for i in range(5):
        st.commit("t", spark.createDataFrame([(i,)], "id int"))
    hist = st.history("t")
    assert hist[-1] == 5 and len(hist) <= 3


def test_fast_append_writes_only_delta(spark, tmp_path):
    """An append version materializes ONLY its delta (file-list
    manifest references the base) — O(delta), never a table rewrite."""
    st = TableStore(spark, str(tmp_path))
    st.commit("t", spark.createDataFrame([(i,) for i in range(100)], "id int"))
    st.commit(
        "t", spark.createDataFrame([(1000,)], "id int"), mode="append"
    )
    assert st.chain_length("t") == 2
    # the delta dir holds ~1 row worth of parquet, not 101
    import glob

    delta_files = glob.glob(str(tmp_path / "t" / "v000002" / "delta" / "*.parquet"))
    assert delta_files
    assert spark.read.parquet(*delta_files).count() == 1
    assert st.read("t").count() == 101


def test_retention_preserves_referenced_chain(spark, tmp_path):
    """Old version dirs whose delta a live chain references survive
    retention; reads stay complete after many appends."""
    st = TableStore(spark, str(tmp_path))
    st.commit("t", spark.createDataFrame([(0,)], "id int"))
    for i in range(1, 8):
        st.commit("t", spark.createDataFrame([(i,)], "id int"), mode="append")
    assert sorted(r["id"] for r in st.read("t").collect()) == list(range(8))
    assert st.chain_length("t") == 8


def test_compact_folds_chain(spark, tmp_path):
    st = TableStore(spark, str(tmp_path))
    st.commit("t", spark.createDataFrame([(0,)], "id int"))
    for i in range(1, 4):
        st.commit("t", spark.createDataFrame([(i,)], "id int"), mode="append")
    v = st.compact("t")
    assert st.chain_length("t", v) == 1
    assert sorted(r["id"] for r in st.read("t", v).collect()) == [0, 1, 2, 3]
    # appends after compaction chain from the materialized snapshot
    st.commit("t", spark.createDataFrame([(9,)], "id int"), mode="append")
    assert st.chain_length("t") == 2
    assert sorted(r["id"] for r in st.read("t").collect()) == [0, 1, 2, 3, 9]


def test_empty_delta_append(spark, tmp_path):
    st = TableStore(spark, str(tmp_path))
    st.commit("t", spark.createDataFrame([(1,)], "id int"))
    empty = spark.createDataFrame([], "id int")
    st.commit("t", empty, mode="append")
    assert st.read("t").count() == 1


def test_pointer_is_atomic_artifact(spark, tmp_path):
    st = TableStore(spark, str(tmp_path))
    st.commit("t", spark.createDataFrame([(1,)], "id int"))
    # a stale tmp snapshot dir must not affect reads
    os.makedirs(str(tmp_path / "t" / "v000009.tmp-dead"), exist_ok=True)
    assert st.latest_version("t") == 1
    assert st.read("t").count() == 1


def test_retention_exempts_manifest_pinned_version(spark, tmp_path):
    """3+ commits after a round manifest (e.g. consecutive crashed
    round attempts) must not delete the version the manifest still
    pins — resume reads exactly that version."""
    st = TableStore(spark, str(tmp_path))
    st.commit("t", spark.createDataFrame([(1,)], "id int"))
    st.commit_manifest(0, {"t": 1})
    for i in range(2, 7):  # five more commits, pointer races ahead
        st.commit("t", spark.createDataFrame([(i,)], "id int"))
    assert 1 in st.history("t")
    assert [r["id"] for r in st.read("t", version=1).collect()] == [1]


def test_append_rejects_schema_drift(spark, tmp_path):
    """A fast-append delta whose columns differ from the base snapshot
    must fail loudly: the multi-dir manifest read infers the schema
    from one file, so a drifted chain silently drops/nulls columns."""
    import pytest

    st = TableStore(spark, str(tmp_path))
    st.commit("t", spark.createDataFrame([(1, "a")], "id int, v string"))
    with pytest.raises(ValueError, match="schema drift"):
        st.commit(
            "t",
            spark.createDataFrame([(2, "b", 9)], "id int, v string, extra int"),
            mode="append",
        )
    # same columns, any order: accepted
    st.commit(
        "t",
        spark.createDataFrame([("c", 3)], "v string, id int").select("id", "v"),
        mode="append",
    )
    # same NAMES but a drifted TYPE (int -> bigint): refused too — the
    # multi-dir read would otherwise coerce silently or fail far from
    # the offending commit
    with pytest.raises(ValueError, match="schema drift"):
        st.commit(
            "t",
            spark.createDataFrame([(4, "d")], "id long, v string"),
            mode="append",
        )


def test_zero_row_partitioned_snapshot_readable(spark, tmp_path):
    """A zero-row PARTITIONED overwrite writes no part files at all
    (just _SUCCESS), so parquet inference has nothing to infer from —
    the commit must stay readable via its persisted schema. This is a
    live crawl state: a round that robots-gates or dedups every
    candidate empties the frontier, and the next round reads it."""
    st = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, "a", 3)], "id int, v string, bucket int"
    )
    st.commit("t", df, partition_by=["bucket"])
    empty = df.limit(0)
    st.commit("t", empty, partition_by=["bucket"])

    got = st.read("t")
    assert got.count() == 0
    # read shape: data columns then partition column, exactly what
    # inference yields on a non-empty partitioned snapshot
    assert got.columns == ["id", "v", "bucket"]
    assert [f.dataType.simpleString() for f in got.schema.fields] == [
        "int",
        "string",
        "int",
    ]


def test_partitioned_append_is_refused(spark, tmp_path):
    """A fast-append chain is one multi-root parquet load, which cannot
    resolve partition columns spread over several roots. A partitioned
    append is refused before anything is written — onto a non-empty
    base and onto a zero-row base alike: the pointer and the version
    dirs are unchanged, and the table still reads its last snapshot."""
    import pytest

    st = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame([(1, 3)], "id int, bucket int")
    for base in (df, df.limit(0)):
        st.commit("t", base, partition_by=["bucket"])
        pointer = (tmp_path / "t" / "_latest").read_text()
        dirs = sorted(os.listdir(tmp_path / "t"))
        with pytest.raises(ValueError, match="unpartitioned tables only"):
            st.commit("t", df, mode="append", partition_by=["bucket"])
        assert (tmp_path / "t" / "_latest").read_text() == pointer
        assert sorted(os.listdir(tmp_path / "t")) == dirs
        assert st.read("t").count() == base.count()


def test_partitioned_commit_writes_one_file_per_value(spark, tmp_path):
    """A partitioned commit clusters rows by the partition key first:
    input spread over 8 splits still lands as ONE parquet file per
    partition value."""
    import glob

    st = TableStore(spark, str(tmp_path))
    df = spark.range(0, 400, 1, 8).selectExpr("id", "cast(id % 5 as int) AS bucket")
    st.commit("t", df, partition_by=["bucket"])
    for b in range(5):
        files = glob.glob(str(tmp_path / "t" / "v000001" / f"bucket={b}" / "*.parquet"))
        assert len(files) == 1, (b, files)
    assert st.read("t").count() == 400
