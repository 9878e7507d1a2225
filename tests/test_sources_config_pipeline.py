"""Sources, config validation, and the config-driven pipeline builder."""

import json

import pytest
from pyspark.sql import Row

from powerdatapipeline_spark.config import RunConfig, load_config
from powerdatapipeline_spark.plans import build_pipeline
from powerdatapipeline_spark.sources import (
    audit_nulls,
    check_columns,
    load_tables,
    read_csv,
)
from powerdatapipeline_spark.sources.readers import schema_for_columns


def test_schema_for_columns_name_driven_dtypes():
    st = schema_for_columns(["datetimestampseconds", "date_block", "W"])
    types = {f.name: f.dataType.simpleString() for f in st.fields}
    # reference dtype rules (tfdataset.py:26-34): epoch=float64, text=string,
    # measurements default float32
    assert types == {"datetimestampseconds": "double",
                     "date_block": "string", "W": "float"}


def _write_csv(tmp_path, name="data.csv",
               body="datetimestampseconds,W\n0,1.5\n300,2.5\n600,3.5\n"):
    p = tmp_path / name
    p.write_text(body)
    return str(p)


def test_read_csv_projection_and_limit(spark, tmp_path):
    path = _write_csv(tmp_path)
    df = read_csv(spark, path, columns=["datetimestampseconds", "W"],
                  select=["W"], limit=2)
    assert df.columns == ["W"]
    assert df.count() == 2


def test_detect_csv_header_trio(spark, tmp_path):
    from powerdatapipeline_spark.sources.readers import detect_csv_header
    cols = ["datetimestampseconds", "W"]
    # 1. header present: "W" does not cast to float32
    with_header = _write_csv(tmp_path, "h.csv")
    assert detect_csv_header(with_header, cols) is True
    # 2. headerless: first row is numeric data
    headerless = _write_csv(tmp_path, "nh.csv", body="0,1.5\n300,2.5\n")
    assert detect_csv_header(headerless, cols) is False
    # 3. ambiguous: all-string columns, all-string data row → header
    #    (the reference's "strings in row 0 mean column names" resolution)
    amb = _write_csv(tmp_path, "amb.csv", body="alpha,beta\ngamma,delta\n")
    assert detect_csv_header(amb, ["date_block", "time_block"]) is True
    # declared-name match short-circuits regardless of castability
    assert detect_csv_header(with_header, ["datetimestampseconds", "W"]) is True
    with pytest.raises(ValueError):  # cell-count / column-count disagreement
        detect_csv_header(with_header, ["only_one"])


def test_read_csv_header_auto(spark, tmp_path):
    cols = ["datetimestampseconds", "W"]
    with_header = _write_csv(tmp_path, "h2.csv")
    headerless = _write_csv(tmp_path, "nh2.csv", body="0,1.5\n300,2.5\n300,3.5\n")
    a = read_csv(spark, with_header, columns=cols, header=None)
    b = read_csv(spark, headerless, columns=cols, header=None)
    assert a.count() == 3 and b.count() == 3  # neither lost nor gained a row
    assert {r.W for r in b.collect()} == {1.5, 2.5, 3.5}


def test_check_columns_mismatch_raises(spark, tmp_path):
    df = read_csv(spark, _write_csv(tmp_path), columns=["datetimestampseconds", "W"])
    check_columns(df, ["datetimestampseconds", "W"])
    with pytest.raises(ValueError):
        check_columns(df, ["wrong", "names"])


def test_audit_nulls_counts_and_raises(spark):
    df = spark.createDataFrame(
        [Row(a=1.0, b="x"), Row(a=None, b="y"), Row(a=float("nan"), b=None)])
    counts = audit_nulls(df)
    assert counts == {"a": 2, "b": 1}  # NaN counted for float cols (reference NaN audit)
    with pytest.raises(ValueError):
        audit_nulls(df, raise_on_null=True)


def test_inject_errors_trips_every_quality_check(spark):
    """The reference's get_df_der(add_errors=True) fixture (1e7 spike on
    row 1, va→Va rename — pandas_utilities.py:50-52) plus blanked cells and
    a cadence gap: every data-quality failure path must actually fire."""
    from powerdatapipeline_spark.operators.timeseries import check_intervals
    from powerdatapipeline_spark.sources.readers import inject_errors
    clean = spark.createDataFrame(
        [Row(datetimestampseconds=float(i * 60), va=1.0, vb=2.0)
         for i in range(10)])
    # clean data passes everything
    check_columns(clean, ["datetimestampseconds", "va", "vb"])
    audit_nulls(clean, raise_on_null=True)
    assert check_intervals(clean, "datetimestampseconds", 60)

    bad = inject_errors(clean, "datetimestampseconds", spike_col="vb",
                        rename=("va", "Va"), blank_col="va")
    with pytest.raises(ValueError, match="column mismatch"):
        check_columns(bad, ["datetimestampseconds", "va", "vb"])
    with pytest.raises(ValueError, match="null"):
        audit_nulls(bad, raise_on_null=True)
    # the 1e7 spike landed on exactly the reference's row index 1
    spiked = {r.datetimestampseconds: r.vb for r in bad.collect()}
    assert spiked[60.0] == 1e7 and spiked[0.0] == 2.0

    gapped = inject_errors(clean, "datetimestampseconds", drop_second_row=True)
    with pytest.raises(AssertionError, match="interval audit failed"):
        check_intervals(gapped, "datetimestampseconds", 60)

    with pytest.raises(ValueError):
        inject_errors(clean, "datetimestampseconds", spike_col="va",
                      blank_col="va")
    with pytest.raises(ValueError):
        inject_errors(clean.limit(1), "datetimestampseconds", spike_col="va")


def test_load_tables_star_schema(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["region", "nation"])
    assert t["region"].count() == 5
    assert t["nation"].count() == 25


def test_config_validation_rules(tmp_path):
    cfg = {
        "name": "smoke",
        "datapipeline": {
            "extraction": {"data_files": ["x.csv"],
                           "columns_original": ["datetimestampseconds", "W"],
                           "filtered_column": ""},
            "transformation": {"features": ["W"]},
        },
    }
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps(cfg))
    rc = load_config(str(p))
    assert isinstance(rc, RunConfig)
    assert rc.datapipeline.extraction.filtered_column is None  # ''→None coercion

    with pytest.raises(Exception):  # no data files (reference config.py:108)
        RunConfig(name="bad", datapipeline={
            "extraction": {"data_files": []},
            "transformation": {"features": ["W"]}})
    with pytest.raises(Exception):  # no features (reference config.py:76-80)
        RunConfig(name="bad", datapipeline={
            "extraction": {"data_files": ["x.csv"]},
            "transformation": {}})


def test_build_pipeline_end_to_end(spark, tmp_path):
    # the reference's DER-style flow: scan → select → interval audit →
    # modulo downsample (SURVEY.md §3.1)
    body = "datetimestampseconds,W,DCW\n" + "\n".join(
        f"{i},{float(i)},{float(i*2)}" for i in range(0, 600, 60)) + "\n"
    path = _write_csv(tmp_path, body=body)
    cfg = RunConfig(name="der", datapipeline={
        "extraction": {"data_files": [path],
                       "columns_original": ["datetimestampseconds", "W", "DCW"]},
        "transformation": {"features": ["W", "datetimestampseconds"],
                           "time_interval_original": 60,
                           "time_interval_desired": 120,
                           "resample": True},
    })
    out = build_pipeline(spark, cfg)
    rows = out.orderBy("datetimestampseconds").collect()
    assert [r.datetimestampseconds for r in rows] == [0.0, 120.0, 240.0, 360.0, 480.0]
    assert "DCW" not in out.columns  # projection applied


def test_build_pipeline_equality_filter(spark, tmp_path):
    body = "datetimestampseconds,W,site\n0,1.0,a\n1,2.0,b\n2,3.0,a\n"
    path = _write_csv(tmp_path, body=body)
    cfg = RunConfig(name="f", datapipeline={
        "extraction": {"data_files": [path],
                       "columns_original": ["datetimestampseconds", "W", "site"],
                       "filtered_column": "site", "filtered_value": "a"},
        "transformation": {"features": ["W", "site", "datetimestampseconds"]},
    })
    out = build_pipeline(spark, cfg)
    # KEEP semantics (reference filter_out_string keeps matches, Appendix A.2)
    assert out.count() == 2


def test_read_parquet_multiple_files(spark, tmp_path, sf_dir):
    from powerdatapipeline_spark.sources import read_parquet
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    spark.range(5).write.parquet(a)
    spark.range(5, 10).write.parquet(b)
    assert read_parquet(spark, [a, b]).count() == 10


def test_pipeline_featurize_window_and_split(spark, tmp_path):
    import json
    from powerdatapipeline_spark.plans.pipeline import build_pipeline, split
    body = "datetimestampseconds,W,cat\n" + "\n".join(
        f"{i*60},{float(i)},{i % 3}" for i in range(20)) + "\n"
    p = tmp_path / "d.csv"
    p.write_text(body)
    cfg = RunConfig(name="full", datapipeline={
        "extraction": {"data_files": [str(p)],
                       "columns_original": ["datetimestampseconds", "W", "cat"]},
        "transformation": {"features": ["W", "cat", "datetimestampseconds"],
                           "time_interval_original": 60,
                           "normalize": True,
                           "skip_normalization": ["datetimestampseconds"],
                           "onehot_features": ["cat"],
                           "window_size": 4},
    })
    out = build_pipeline(spark, cfg)
    # featurized: one-hot expansion + normalized W, windowed with w=4
    assert any(c.startswith("cat_onehot_") for c in out.columns)
    assert "window" in out.columns
    assert out.count() == 20 - 4 + 1
    # split operates on the pre-window frame
    base = spark.createDataFrame([(float(i),) for i in range(10)], ["datetimestampseconds"])
    tr, te, ev = split(base, cfg, "datetimestampseconds")
    assert (tr.count(), te.count(), ev.count()) == (8, 1, 1)


def test_pipeline_use_df_pandas_staging(spark, tmp_path):
    body = "datetimestampseconds,W\n0,1.5\n300,2.5\n600,3.5\n"
    p = tmp_path / "pdf.csv"
    p.write_text(body)
    cfg = RunConfig(name="df", datapipeline={
        "extraction": {"data_files": [str(p)], "use_df": True, "n_rows": 2,
                       "columns_original": ["datetimestampseconds", "W"]},
        "transformation": {"features": ["W", "datetimestampseconds"]},
    })
    out = build_pipeline(spark, cfg)
    assert out.count() == 2  # the reference's use_df branch NameErrors (A.4)


def test_pipeline_use_streaming_returns_stream(spark, tmp_path):
    src = tmp_path / "streamdir"
    src.mkdir()
    (src / "x.csv").write_text("datetimestampseconds,W\n0,1.0\n")
    cfg = RunConfig(name="s", datapipeline={
        "extraction": {"data_files": [], "use_streaming": True,
                       "streaming_data_source": str(src),
                       "columns_original": ["datetimestampseconds", "W"]},
        "transformation": {"features": ["W", "datetimestampseconds"],
                           "time_interval_original": 60},
    })
    out = build_pipeline(spark, cfg)
    assert out.isStreaming  # the reference's use_streaming knob was dead


def test_pipeline_streaming_batch_resample_parity(spark, tmp_path):
    """use_streaming end-to-end through build_pipeline: the SAME RunConfig
    (mean-downsample 60s→120s) built once as a stream and once as batch
    must produce identical buckets/means — the streaming path routes to the
    watermarked F.window tumbling mean whose epoch-aligned grid matches the
    batch floor(epoch/i)*i grid."""
    import uuid

    src = tmp_path / "streamdir2"
    src.mkdir()
    body = "datetimestampseconds,W\n" + "\n".join(
        f"{i},{float(i) / 60}" for i in range(0, 600, 60)) + "\n"
    (src / "d.csv").write_text(body)
    base = {
        "columns_original": ["datetimestampseconds", "W"],
    }
    tr = {"features": ["W", "datetimestampseconds"],
          "time_interval_original": 60, "time_interval_desired": 120,
          "resample": True, "resample_method": "mean"}
    s_cfg = RunConfig(name="sp", datapipeline={
        "extraction": {**base, "data_files": [], "use_streaming": True,
                       "streaming_data_source": str(src)},
        "transformation": tr})
    b_cfg = RunConfig(name="bp", datapipeline={
        "extraction": {**base, "data_files": [str(src / "d.csv")]},
        "transformation": tr})
    stream = build_pipeline(spark, s_cfg)
    assert stream.isStreaming
    name = f"ppl_sink_{uuid.uuid4().hex[:8]}"
    q = (stream.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    got = {(r.bucket_ts, round(r.avg_W, 9))
           for r in spark.table(name).collect()}
    want = {(r.bucket_ts, round(r.avg_W, 9))
            for r in build_pipeline(spark, b_cfg).collect()}
    assert got == want and len(want) == 5


def test_pipeline_streaming_linear_resample_raises(spark, tmp_path):
    """resample_method='linear' on a stream must fail at BUILD time with a
    clear message — upsample_linear needs lead() over a Window, which Spark
    rejects only at query start (ADVICE r5: the old comment claimed both
    upsamples were stream-safe)."""
    import pytest as _pytest

    src = tmp_path / "streamdir3"
    src.mkdir()
    (src / "x.csv").write_text("datetimestampseconds,W\n0,1.0\n120,2.0\n")
    cfg = RunConfig(name="sl", datapipeline={
        "extraction": {"data_files": [], "use_streaming": True,
                       "streaming_data_source": str(src),
                       "columns_original": ["datetimestampseconds", "W"]},
        "transformation": {"features": ["W", "datetimestampseconds"],
                           "time_interval_original": 120,
                           "time_interval_desired": 60,
                           "resample": True, "resample_method": "linear"},
    })
    with _pytest.raises(ValueError, match="linear.*not supported on a stream"):
        build_pipeline(spark, cfg)


def test_detect_csv_header_empty_cell_is_data(spark, tmp_path):
    """A headerless first row with a missing value ('1.5,,3'-style) is still
    a DATA row — empty cells are NULLs in nullable columns, not evidence of
    a header."""
    from powerdatapipeline_spark.sources.readers import detect_csv_header
    p = _write_csv(tmp_path, "gap.csv", body="0,\n300,2.5\n")
    assert detect_csv_header(p, ["datetimestampseconds", "W"]) is False


def test_inject_errors_rename_ts_with_drop(spark):
    """rename applies LAST: renaming the timestamp column itself must not
    break drop_second_row (which filters on the original ts name)."""
    from powerdatapipeline_spark.sources.readers import inject_errors
    clean = spark.createDataFrame(
        [Row(datetimestampseconds=float(i * 60), va=1.0) for i in range(4)])
    out = inject_errors(clean, "datetimestampseconds",
                        rename=("datetimestampseconds", "TS"),
                        drop_second_row=True)
    assert out.columns == ["TS", "va"]
    assert sorted(r.TS for r in out.collect()) == [0.0, 120.0, 180.0]


def test_read_jsonl_roundtrip_schema_and_pushdown(spark, tmp_path):
    from powerdatapipeline_spark.sources.readers import read_jsonl, write_jsonl

    src = spark.createDataFrame(
        [(1, "hello world", "en"), (2, "bonjour", "fr")],
        "doc_id long, text string, lang string")
    out = str(tmp_path / "corpus_jsonl")
    write_jsonl(src, out)
    back = read_jsonl(spark, out, schema="doc_id long, text string, lang string",
                      select=["doc_id", "text"])
    rows = {r.doc_id: r.text for r in back.collect()}
    assert rows == {1: "hello world", 2: "bonjour"}
    assert back.columns == ["doc_id", "text"]
    assert read_jsonl(spark, out,
                      schema="doc_id long, text string, lang string",
                      limit=1).count() == 1


def test_read_jsonl_corrupt_audit(spark, tmp_path):
    from powerdatapipeline_spark.sources.readers import read_jsonl

    p = tmp_path / "bad.jsonl"
    p.write_text('{"doc_id": 1, "text": "good"}\n'
                 'this is not json\n'
                 '{"doc_id": 2, "text": "also good"}\n')
    df = read_jsonl(spark, str(p), schema="doc_id long, text string",
                    corrupt_col="_bad").cache()
    assert df.where("_bad IS NOT NULL").count() == 1
    assert df.where("_bad IS NULL").count() == 2
    good = {r.doc_id for r in df.where("_bad IS NULL").collect()}
    assert good == {1, 2}
    df.unpersist()


def test_write_jsonl_partitioned(spark, tmp_path):
    from powerdatapipeline_spark.sources.readers import read_jsonl, write_jsonl

    src = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "fr"), (3, "c", "en")],
        "doc_id long, text string, lang string")
    out = str(tmp_path / "part_jsonl")
    write_jsonl(src, out, partition_by=["lang"])
    import os
    assert sorted(d for d in os.listdir(out) if d.startswith("lang=")) == \
        ["lang=en", "lang=fr"]
    back = read_jsonl(spark, out, schema="doc_id long, text string")
    assert back.count() == 3


def test_read_jsonl_multiple_paths(spark, tmp_path):
    """A list of paths must read ALL files — DataFrameReader.json's second
    positional parameter is the schema, so a splatted call would bind
    path[1] there and raise a DDL ParseException."""
    from powerdatapipeline_spark.sources.readers import read_jsonl

    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    a.write_text('{"doc_id": 1, "text": "from a"}\n')
    b.write_text('{"doc_id": 2, "text": "from b"}\n')
    df = read_jsonl(spark, [str(a), str(b)],
                    schema="doc_id long, text string")
    assert {r.doc_id: r.text for r in df.collect()} == \
        {1: "from a", 2: "from b"}


def test_read_jsonl_corrupt_col_requires_schema(spark, tmp_path):
    from powerdatapipeline_spark.sources.readers import read_jsonl

    p = tmp_path / "x.jsonl"
    p.write_text('{"doc_id": 1}\n')
    with pytest.raises(ValueError, match="corrupt_col requires"):
        read_jsonl(spark, str(p), corrupt_col="_bad")


def test_read_jsonl_corrupt_col_collision_is_loud(spark, tmp_path):
    """ADVICE r6: corrupt_col colliding with a declared field would build a
    duplicate-field schema and a confusing downstream analysis error —
    refuse at the call site instead."""
    from powerdatapipeline_spark.sources.readers import read_jsonl

    p = tmp_path / "x.jsonl"
    p.write_text('{"doc_id": 1, "text": "ok"}\n')
    with pytest.raises(ValueError, match="collides with a declared"):
        read_jsonl(spark, str(p), schema="doc_id long, text string",
                   corrupt_col="text")


# ---------------------------------------------------------------- round-7b sinks

def test_orc_roundtrip(spark, sf_dir, tmp_path):
    from powerdatapipeline_spark.sources import readers as rd
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    p = str(tmp_path / "nation_orc")
    rd.write_orc(src, p)
    back = rd.read_orc(spark, p, columns=["n_nationkey", "n_name"])
    assert back.columns == ["n_nationkey", "n_name"]
    got = sorted((r["n_nationkey"], r["n_name"]) for r in back.collect())
    want = sorted((r["n_nationkey"], r["n_name"]) for r in
                  src.select("n_nationkey", "n_name").collect())
    assert got == want


def test_dataset_manifest_verifies_and_detects_change(spark, tmp_path):
    from pyspark.sql import functions as F
    from powerdatapipeline_spark.sources import readers as rd
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 5).alias("g"))
    p = str(tmp_path / "data")
    df.repartition(4).write.parquet(p)
    man = rd.dataset_manifest(spark, p)
    rows = man.collect()
    assert sum(r["n_rows"] for r in rows) == 100
    assert len(rows) == 4
    # unchanged data verifies clean
    assert rd.verify_manifest(spark, p, man).count() == 0
    # manifest is row-order independent: digest of a file depends only on
    # its content multiset, so rewriting identical content into ONE file
    # still matches on the mod-2^64 sum of digests
    p2 = str(tmp_path / "data2")
    df.repartition(1).write.parquet(p2)
    man2 = rd.dataset_manifest(spark, p2).collect()
    assert (sum(int(r["content_digest"]) for r in rows) % 2**64
            == sum(int(r["content_digest"]) for r in man2) % 2**64)
    # a tampered file set is detected — verify against the STORED
    # manifest rows (a live manifest DataFrame is lazy and would re-read
    # the tampered path, vacuously matching itself)
    stored = spark.createDataFrame(rows, man.schema)
    extra = spark.range(100, 101).select(
        F.col("id"), (F.col("id") % 5).alias("g"))
    extra.write.mode("append").parquet(p)
    assert rd.verify_manifest(spark, p, stored).count() > 0


def test_compact_dataset(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F
    from powerdatapipeline_spark.sources import readers as rd
    df = spark.range(1000).select(F.col("id"), (F.col("id") * 2).alias("v"))
    src = str(tmp_path / "frag")
    df.repartition(16).write.parquet(src)
    dst = str(tmp_path / "compacted")
    n_files = rd.compact_dataset(spark, src, dst, target_rows_per_file=500)
    assert n_files == 2
    back = spark.read.parquet(dst)
    assert back.count() == 1000
    # content identical (order-independent digest totals match)
    d1 = [int(r["content_digest"]) for r in rd.dataset_manifest(spark, src).collect()]
    d2 = [int(r["content_digest"]) for r in rd.dataset_manifest(spark, dst).collect()]
    assert sum(d1) % 2**64 == sum(d2) % 2**64
    with _pytest.raises(ValueError):
        rd.compact_dataset(spark, src, dst, target_rows_per_file=0)

def test_manifest_null_flag_not_in_band_sentinel(spark, tmp_path):
    # ADVICE r7: the old coalesce-to-'\x00NULL' sentinel made a genuine
    # string value '\x00NULL' hash identically to NULL; the is-null-flag
    # encoding must distinguish them (and a corruption swapping one for
    # the other must fail verify_manifest)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from powerdatapipeline_spark.sources import readers as rd
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("s", T.StringType())])
    with_null = spark.createDataFrame([(1, None)], schema)
    with_sentinel = spark.createDataFrame([(1, "\x00NULL")], schema)
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    with_null.coalesce(1).write.parquet(p1)
    with_sentinel.coalesce(1).write.parquet(p2)
    d1 = rd.dataset_manifest(spark, p1).collect()[0]["content_digest"]
    d2 = rd.dataset_manifest(spark, p2).collect()[0]["content_digest"]
    assert int(d1) != int(d2)
    # native-value hashing also keeps type distinctions: 1 vs '1'
    ints = spark.createDataFrame([(1,)], "v long")
    strs = spark.createDataFrame([("1",)], "v string")
    p3, p4 = str(tmp_path / "c"), str(tmp_path / "d")
    ints.coalesce(1).write.parquet(p3)
    strs.coalesce(1).write.parquet(p4)
    d3 = rd.dataset_manifest(spark, p3).collect()[0]["content_digest"]
    d4 = rd.dataset_manifest(spark, p4).collect()[0]["content_digest"]
    assert int(d3) != int(d4)


def test_compact_dataset_same_path_raises_upfront(spark, tmp_path):
    # ADVICE r7: dst == src would only fail at write time (after the
    # counting read); the guard must raise before any Spark job runs
    import pytest as _pytest
    from powerdatapipeline_spark.sources import readers as rd
    src = str(tmp_path / "frag2")
    spark.range(10).write.parquet(src)
    with _pytest.raises(ValueError, match="fresh location"):
        rd.compact_dataset(spark, src, src, target_rows_per_file=5)
    # trailing-slash spelling of the same path is caught too
    with _pytest.raises(ValueError, match="fresh location"):
        rd.compact_dataset(spark, src, src + "/", target_rows_per_file=5)

def test_read_binary_files_glob_maxbytes_content(spark, tmp_path):
    # binaryFile multimodal source (VERDICT r7 missing #1): listing-time
    # glob, length filter, metadata-only projection, byte-exact content
    from pyspark.sql import functions as F
    from powerdatapipeline_spark.sources import readers as rd
    d = tmp_path / "corpus"
    (d / "nested").mkdir(parents=True)
    (d / "a.bin").write_bytes(b"\x00\x01\x02payload-a")
    (d / "b.bin").write_bytes(b"bb" * 200)
    (d / "ignore.txt").write_text("not binary corpus")
    (d / "nested" / "c.bin").write_bytes(b"deep")

    flat = rd.read_binary_files(spark, str(d), glob="*.bin")
    got = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"])
           for r in flat.collect()}
    assert set(got) == {"a.bin", "b.bin"}  # glob excludes .txt, no recurse
    assert got["a.bin"] == b"\x00\x01\x02payload-a"

    deep = rd.read_binary_files(spark, str(d), glob="*.bin", recursive=True)
    names = {r["path"].rsplit("/", 1)[-1] for r in deep.collect()}
    assert names == {"a.bin", "b.bin", "c.bin"}

    small = rd.read_binary_files(spark, str(d), glob="*.bin", max_bytes=100)
    assert {r["path"].rsplit("/", 1)[-1] for r in small.collect()} == {"a.bin"}

    meta = rd.read_binary_files(spark, str(d), glob="*.bin",
                                with_content=False)
    assert "content" not in meta.columns
    lens = {r["path"].rsplit("/", 1)[-1]: r["length"] for r in meta.collect()}
    assert lens == {"a.bin": 12, "b.bin": 400}


def test_binary_fixture_reused_and_content_addressed(spark, sf_dir):
    import os
    from powerdatapipeline_spark import queries as q
    d1 = q.materialize_binary_fixture(spark, sf_dir, n=25)
    assert os.path.exists(os.path.join(d1, "_SUCCESS"))
    # repeat call reuses the completed fixture (same content → same dir)
    d2 = q.materialize_binary_fixture(spark, sf_dir, n=25)
    assert d1 == d2
    # a different subset is a different fixture
    d3 = q.materialize_binary_fixture(spark, sf_dir, n=26)
    assert d3 != d1
    files = [f for f in os.listdir(d1) if f.endswith(".txt")]
    assert len(files) == 25


# ------------------------------------------------ parquet schema cache
def _jobs_in_group(spark, group, fn):
    """Spark jobs ``fn()`` fires, counted by job group. A marker job runs
    last in the same group; once the status tracker lists it, every
    earlier job of the group has been listed too."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        spark.range(1).collect()  # marker: one job
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.time() + 30
    while time.time() < deadline:
        ids = sc.statusTracker().getJobIdsForGroup(group)
        if ids and all(sc.statusTracker().getJobInfo(i) is not None
                       and sc.statusTracker().getJobInfo(i).status
                       == "SUCCEEDED" for i in ids):
            break
        time.sleep(0.05)
    return out, len(ids) - 1


def _write_region(sf, drop=None):
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {"r_regionkey": pa.array([0, 1], pa.int64()),
            "r_name": pa.array(["AFRICA", "AMERICA"]),
            "r_comment": pa.array(["x", "y"])}
    if drop:
        del cols[drop]
    sf.mkdir(exist_ok=True)
    pq.write_table(pa.table(cols), str(sf / "region.parquet"))


def test_second_table_load_fires_no_job(spark, tmp_path):
    from powerdatapipeline_spark.queries import _t

    sf = tmp_path / "sf"
    _write_region(sf)
    first, n1 = _jobs_in_group(spark, "schema-cache-1",
                               lambda: _t(spark, str(sf), "region"))
    second, n2 = _jobs_in_group(spark, "schema-cache-2",
                                lambda: _t(spark, str(sf), "region"))
    assert n1 == 1      # the schema-inference job of the first read
    assert n2 == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_table_invalidates_cached_schema(spark, tmp_path):
    from powerdatapipeline_spark.queries import _t

    sf = tmp_path / "sf"
    _write_region(sf)
    assert "r_name" in _t(spark, str(sf), "region").columns
    _write_region(sf, drop="r_name")
    with pytest.raises(ValueError, match="region fixture drifted"):
        _t(spark, str(sf), "region")


def test_schema_cache_keys_on_inference_confs(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from powerdatapipeline_spark.sources import read_parquet

    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).dtypes == [("b", "binary")]
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).dtypes == [("b", "string")]
    finally:
        spark.conf.set(key, old)


def test_get_spark_turns_origin_capture_off(spark):
    # per-call Python stack capture costs ~15 Py4J round trips per F.col
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_python_workers_import_the_package_outside_the_repo(tmp_path):
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from powerdatapipeline_spark.session import get_spark

def kernel(batches):
    import powerdatapipeline_spark  # noqa: F401
    yield from batches

spark = get_spark("worker-import", master="local[1]", shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")
print("rows", spark.range(3).mapInPandas(kernel, "id long").count())
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "rows 3" in r.stdout


# ------------------------------------------------ one evaluation per run
def _f1_config(tmp_path, drop=None):
    """A small F1-shaped run: 1 s cadence, mean-downsampled to 60 s,
    normalized. ``drop`` leaves that second out of the CSV."""
    p = tmp_path / "f1.csv"
    p.write_text("datetimestampseconds,W,DCW\n" + "".join(
        f"{i},{(i * 7) % 13 / 3:.3f},{(i * 5) % 11 / 7:.3f}\n"
        for i in range(600) if i != drop))
    return RunConfig(name="F1", datapipeline={
        "extraction": {"data_files": [str(p)],
                       "columns_original": ["datetimestampseconds", "W", "DCW"]},
        "transformation": {"features": ["W", "DCW", "datetimestampseconds"],
                           "time_interval_original": 1,
                           "time_interval_desired": 60, "resample": True,
                           "resample_method": "mean", "normalize": True,
                           "n_rows_to_adapt_featurespace": 10 ** 9}})


def _f1_splits(spark, tmp_path):
    from powerdatapipeline_spark.plans.pipeline import split

    cfg = _f1_config(tmp_path)
    return split(build_pipeline(spark, cfg), cfg, "bucket_ts")


def test_pipeline_splits_read_one_materialization(spark, tmp_path):
    parts = _f1_splits(spark, tmp_path)
    for frame in parts:
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "FileScan csv" not in plan
        assert "ExistingRDD" in plan
    assert [f.count() for f in parts] == [8, 1, 1]


def test_each_split_write_runs_one_job(spark, tmp_path):
    from powerdatapipeline_spark.sources.readers import write_parquet

    parts = _f1_splits(spark, tmp_path)
    for name, frame in zip(("train", "test", "eval"), parts):
        out = str(tmp_path / name)
        _, n = _jobs_in_group(spark, f"one-eval-{name}",
                              lambda: write_parquet(frame, out))
        assert n == 1
        assert sorted(spark.read.parquet(out).collect()) == \
            sorted(frame.collect())


def test_streaming_pipeline_is_never_checkpointed(spark, tmp_path,
                                                  monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    def refuse(self, *a, **k):
        raise RuntimeError("localCheckpoint called")

    monkeypatch.setattr(ClassicDF, "localCheckpoint", refuse)
    src = tmp_path / "f1stream"
    src.mkdir()
    batch = _f1_config(tmp_path)
    (src / "f1.csv").write_text((tmp_path / "f1.csv").read_text())
    ex = batch.datapipeline.extraction.model_dump()
    stream_cfg = RunConfig(name="F1s", datapipeline={
        "extraction": {**ex, "data_files": [], "use_streaming": True,
                       "streaming_data_source": str(src)},
        "transformation": batch.datapipeline.transformation.model_dump()})
    assert build_pipeline(spark, stream_cfg).isStreaming
    # the batch twin reaches the patched method, so the patch is live
    with pytest.raises(RuntimeError, match="localCheckpoint called"):
        build_pipeline(spark, batch)


def _nothing_left_running(spark, threads_before):
    """No Spark job is active once the listener bus has caught up, and no
    thread started since ``threads_before`` is still alive (threads of
    earlier tests may end meanwhile, so the count alone could shrink)."""
    import threading

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert set(threading.enumerate()) <= threads_before


def test_build_pipeline_raises_on_broken_cadence(spark, tmp_path):
    import threading

    before = set(threading.enumerate())
    with pytest.raises(AssertionError, match="interval audit failed"):
        build_pipeline(spark, _f1_config(tmp_path, drop=300))
    _nothing_left_running(spark, before)


def test_build_pipeline_joins_the_audit_before_returning(spark, tmp_path):
    import threading
    import warnings

    cfg = _f1_config(tmp_path)
    before = set(threading.enumerate())
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        build_pipeline(spark, cfg)
    _nothing_left_running(spark, before)
    assert not [w for w in caught if "Tags will not be inherited" in str(w.message)]


def test_audit_jobs_count_under_the_callers_group(spark, tmp_path,
                                                  monkeypatch):
    from powerdatapipeline_spark.operators import timeseries as ts

    cfg = _f1_config(tmp_path)
    _, with_audit = _jobs_in_group(spark, "audit-on",
                                   lambda: build_pipeline(spark, cfg))
    audit_jobs = []
    real = ts.check_intervals

    def counted(df, *a, **k):
        _, n = _jobs_in_group(spark, "audit-alone", lambda: real(df, *a, **k))
        audit_jobs.append(n)
        return True

    monkeypatch.setattr(ts, "check_intervals", counted)
    build_pipeline(spark, cfg)
    monkeypatch.setattr(ts, "check_intervals", lambda *a, **k: True)
    _, without = _jobs_in_group(spark, "audit-off",
                                lambda: build_pipeline(spark, cfg))
    assert audit_jobs and audit_jobs[0] >= 1
    assert with_audit == without + audit_jobs[0]


def test_audit_error_wins_over_a_failed_fill(spark, tmp_path, monkeypatch):
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    def refuse(self, *a, **k):
        raise RuntimeError("localCheckpoint called")

    monkeypatch.setattr(ClassicDF, "localCheckpoint", refuse)
    with pytest.raises(AssertionError, match="interval audit failed"):
        build_pipeline(spark, _f1_config(tmp_path, drop=300))


def test_featurize_normalizes_tinyint_and_decimal(spark, tmp_path):
    p = tmp_path / "d.csv"
    p.write_text("datetimestampseconds,W,B,cat\n" + "".join(
        f"{i * 60},{i / 2:.3f},{(i * 3) % 7},{i % 3}\n" for i in range(12)))
    cfg = RunConfig(name="dec", datapipeline={
        "extraction": {"data_files": [str(p)],
                       "columns_original": ["datetimestampseconds", "W", "B",
                                            "cat"],
                       "column_dtypes": {"W": "decimal(10,3)",
                                         "B": "tinyint", "cat": "tinyint"}},
        "transformation": {"features": ["W", "B", "cat",
                                        "datetimestampseconds"],
                           "time_interval_original": 60, "normalize": True,
                           "skip_normalization": ["datetimestampseconds"],
                           "onehot_features": ["cat"],
                           "n_rows_to_adapt_featurespace": 10 ** 9}})
    rows = build_pipeline(spark, cfg).orderBy("datetimestampseconds").collect()
    for c in ("W", "B"):
        vals = [float(r[c]) for r in rows]
        mean = sum(vals) / len(vals)
        assert abs(mean) < 1e-9
        assert abs(sum((v - mean) ** 2 for v in vals) / len(vals) - 1) < 1e-9
    # one-hot and skip_normalization still win over the numeric rule
    assert [r.cat_onehot_1 for r in rows[:3]] == [0.0, 1.0, 0.0]
    assert [r.datetimestampseconds for r in rows[:2]] == [0.0, 60.0]


def test_featurize_one_hots_string_column_by_vocabulary(spark, tmp_path):
    p = tmp_path / "s.csv"
    p.write_text("datetimestampseconds,W,site\n0,1.0,a\n60,2.0,b\n120,3.0,a\n")
    cfg = RunConfig(name="str1h", datapipeline={
        "extraction": {"data_files": [str(p)],
                       "columns_original": ["datetimestampseconds", "W",
                                            "site"],
                       "column_dtypes": {"site": "string"}},
        "transformation": {"features": ["datetimestampseconds", "W", "site"],
                           "time_interval_original": 60,
                           "onehot_features": ["site"],
                           "n_rows_to_adapt_featurespace": 10 ** 9}})
    out = build_pipeline(spark, cfg).orderBy("datetimestampseconds")
    hot = [c for c in out.columns if c.startswith("site_onehot_")]
    assert hot == ["site_onehot_0", "site_onehot_1"]
    assert [(r.site_onehot_0, r.site_onehot_1) for r in out.collect()] == \
        [(1.0, 0.0), (0.0, 1.0), (1.0, 0.0)]
