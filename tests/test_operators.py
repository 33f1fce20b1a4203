"""Operator-level tests: dedupe variant equivalence, LSH recall vs brute force,
multimodal mapInPandas plumbing."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pocket_etl_spark.cdc.dedupe import lww_dedupe, lww_dedupe_window
from pocket_etl_spark.datagen import gen_change_events, with_duplicates_and_ties


def _sorted_pdf(df):
    pdf = df.toPandas()
    return pdf.sort_values(["repo", "path"]).reset_index(drop=True)[sorted(pdf.columns)]


def test_dedupe_variants_agree(spark):
    """The packed-argmax dedupe and the window row_number reference must produce
    identical winners — under heavy skew, exact duplicate events and same-LSN
    I/U/D ties."""
    events = with_duplicates_and_ties(
        gen_change_events(spark, 4000, 200, seed=13, hot_key_fraction=0.5)
    )
    cols = ["repo", "path"]
    a = _sorted_pdf(lww_dedupe(events, cols))
    b = _sorted_pdf(lww_dedupe_window(events, cols))
    pd.testing.assert_frame_equal(a, b)


def test_apply_lineage_matches_pandas_oracle(spark, tmp_path):
    """apply_batch(lineage=True) on a skewed two-batch log with bad-op rows:
    per batch, the ApplyResult counters, the hot keys and every figure of the
    lineage document equal a pandas computation over the same rows."""
    import json

    from pocket_etl_spark.cdc.apply import apply_batch
    from pocket_etl_spark.lake import ParquetLakeTable

    table = ParquetLakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    events = gen_change_events(spark, 3000, 200, seed=13, hot_key_fraction=0.5).withColumn(
        "op",
        F.when(F.col("lsn") % 50 == 0, F.lit("X"))
        .when(F.col("lsn") % 77 == 0, F.lit(None))
        .otherwise(F.col("op")),
    )
    keys = ["repo", "path"]
    for i, (lo, hi) in enumerate([(1, 1500), (1501, 3000)]):
        batch = events.filter(f"lsn between {lo} and {hi}")
        res = apply_batch(batch, table, batch_id=i, dlq_path=str(tmp_path / "dlq"), lineage=True)

        pdf = batch.withColumn("_bucket", table._bucket_expr()).select(
            *keys, "lsn", "op", "_bucket"
        ).toPandas()
        ok = pdf["op"].isin(["I", "U", "D"])
        good = pdf[ok]
        per_key = good.groupby(keys).size()
        cutoff = max(1, int(len(good) * 0.05))
        want_hot = set(per_key[per_key > cutoff].index)
        assert [k[0] for k in want_hot] == ["org/repo-00000"]  # the injected hot key

        assert res.rows_in == len(good)
        assert res.rows_bad == int((~ok).sum()) > 0
        assert res.rows_applied == len(per_key)
        assert set(res.hot_keys) == want_hot

        with open(res.lineage_path) as f:
            doc = json.load(f)
        assert doc["batch_id"] == i and doc["committed"]
        assert doc["rows_bad"] == res.rows_bad
        assert {tuple(k) for k in doc["hot_keys"]} == want_hot
        assert doc["op_counts"] == good.groupby("op").size().to_dict()
        want_buckets = {
            int(b): {
                "rows": len(g),
                "min_lsn": int(g["lsn"].min()),
                "max_lsn": int(g["lsn"].max()),
                "deletes": int((g["op"] == "D").sum()),
            }
            for b, g in good.groupby("_bucket")
        }
        got_buckets = {r.pop("_bucket"): r for r in doc["buckets"]}
        assert got_buckets == want_buckets


def test_lsh_recovers_all_same_bucket_neighbors(spark):
    """The LSH invariant: every exact top-k neighbor that lands in the query's
    bucket MUST be recovered by lsh_topk (within-bucket ranking is exact); overall
    recall equals the same-bucket fraction — on random vectors that fraction is
    naturally low (≈(1-θ/π)^planes), which is the documented tradeoff, recovered
    in production by unioning L hash tables."""
    from pocket_etl_spark.operators.similarity import (
        brute_force_topk,
        hyperplane_buckets,
        lsh_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    corpus = e.filter("vec_id >= 24")
    queries = e.filter("vec_id between 3 and 23")
    planes = e.filter("vec_id < 3")
    exact = brute_force_topk(corpus, queries, k=3).toPandas()
    approx = lsh_topk(corpus, queries, planes, k=3).toPandas()
    buckets = hyperplane_buckets(e, planes).toPandas().set_index("vec_id").bucket
    exact_pairs = set(zip(exact.query_id, exact.neighbor_id))
    approx_pairs = set(zip(approx.query_id, approx.neighbor_id))
    same_bucket_exact = {(q, n) for q, n in exact_pairs if buckets[q] == buckets[n]}
    assert same_bucket_exact, "fixture degenerate: no same-bucket exact neighbors"
    assert same_bucket_exact <= approx_pairs
    # every LSH hit is a genuine corpus member
    assert set(approx.neighbor_id) <= set(r.vec_id for r in corpus.select("vec_id").collect())


def test_multimodal_feature_extraction(spark):
    from pocket_etl_spark.operators.multimodal import MEDIA_SCHEMA, extract_features

    rows = [
        (1, "image", bytearray(b"\x89PNG fake image bytes"), {"w": "64", "h": "64"}),
        (2, "audio", bytearray(b"RIFF fake wav"), {"sr": "16000"}),
        (3, "image", None, {}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_features(df, dim=4).toPandas().set_index("media_id")
    assert out.loc[1, "n_bytes"] == 21
    assert len(out.loc[1, "features"]) == 4
    assert out.loc[3, "digest"] is None
    # determinism: same payload → same features
    out2 = extract_features(df, dim=4).toPandas().set_index("media_id")
    assert list(out.loc[2, "features"]) == list(out2.loc[2, "features"])


def test_multimodal_frame_sample_fanout(spark):
    from pocket_etl_spark.operators.multimodal import MEDIA_SCHEMA, frame_sample

    rows = [
        (1, "video", bytearray(b"x" * 35), {}),
        (2, "image", bytearray(b"y" * 35), {}),  # filtered out: not video
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = frame_sample(df, every_n=10).toPandas()
    assert set(out.media_id) == {1}
    assert sorted(out.frame_no) == [0, 1, 2]  # 35 bytes // 10 → 3 frames


def test_real_decoder_is_stubbed(spark):
    from pocket_etl_spark.operators.multimodal import DecoderNotAvailable, decode_real

    with pytest.raises(DecoderNotAvailable):
        decode_real(b"bytes", "image")


def test_exact_dedup_finds_injected_duplicates(spark):
    from pocket_etl_spark.operators.dedup import exact_dedup

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dup = d.select(F.col("doc_id") + 100000, "text", "lang", "source", "n_chars").limit(5)
    dup = dup.toDF("doc_id", "text", "lang", "source", "n_chars")
    groups = exact_dedup(d.unionByName(dup))
    assert groups.filter("n_dups > 1").count() == 5
    # kept_id is always the original (min id)
    assert groups.filter("n_dups > 1").filter("kept_id >= 100000").count() == 0


def test_winnow_fingerprints_overlap_on_shared_substrings(spark):
    """Winnowing property: a document and a copy with a changed tail still share
    most selected hashes; an unrelated document shares ~none."""
    from pocket_etl_spark.operators.text import winnow_fingerprint

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    docs = [
        {"doc_id": 1, "text": base + "ending one"},
        {"doc_id": 2, "text": base + "a totally different ending two"},
        {"doc_id": 3, "text": "completely unrelated content with other words entirely " * 3},
    ]
    out = {
        r["doc_id"]: set(r["_winnow_set"])
        for r in winnow_fingerprint(spark.createDataFrame(docs)).collect()
    }
    sim12 = len(out[1] & out[2]) / len(out[1] | out[2])
    sim13 = len(out[1] & out[3]) / len(out[1] | out[3])
    assert sim12 > 0.6
    assert sim13 < 0.05


def test_ivf_indexed_matches_inmemory_and_prunes_partitions(spark, tmp_path):
    """The materialized IVF index (cell-partitioned parquet) must return the
    same top-k as the in-memory ivf_topk, and the probe scan must prune on the
    cell PARTITION column (the 10^9-vector read-volume bound)."""
    from pocket_etl_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        ivf_write_index,
    )
    from pocket_etl_spark.plans import plan_facts

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    centroids = e.filter("vec_id < 4")
    queries = e.filter("vec_id between 4 and 8")
    corpus = e.filter("vec_id >= 9")

    idx = str(tmp_path / "ivf_index")
    ivf_write_index(corpus, centroids, idx)

    got = ivf_topk_indexed(spark, idx, queries, centroids, k=3, n_probe=2)
    want = ivf_topk(corpus, queries, centroids, k=3, n_probe=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # partition pruning reaches the index scan
    f = plan_facts(got)
    assert "PartitionFilters" in f.text and "cell" in f.text, f.text[:3000]
