"""Spark-parity tests for the round-2 operators: AB-join, AV transform,
maximum_subsequence, hierarchical clustering, JSON io, streaming rollup."""

from __future__ import annotations

import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from matrixprofile_spark.kernels import workflows as W
from matrixprofile_spark.kernels.mpx import mpx_ab_join
from matrixprofile_spark.kernels.transform import apply_av
from matrixprofile_spark.operators import profile as P
from matrixprofile_spark.operators import rollup


def _series_df(spark, arrays: dict[str, np.ndarray]):
    rows = []
    for cid, v in arrays.items():
        for i, x in enumerate(v):
            rows.append((cid, "m", i, float(i), float(x)))
    return spark.createDataFrame(
        rows, "conv_id string, metric string, idx long, ts_epoch double, value double"
    )


@pytest.fixture(scope="module")
def arrays():
    rng = np.random.default_rng(7)
    base = np.sin(np.arange(200) * 0.3)
    return {
        "a": base + rng.normal(0, 0.1, 200),
        "b": np.cos(np.arange(180) * 0.2) + rng.normal(0, 0.1, 180),
        "c": base + rng.normal(0, 0.1, 200),  # near-duplicate of a
    }


def test_ab_join_pairs_matches_kernel(spark, arrays):
    pairs = spark.createDataFrame(
        [("a", "b", "m", arrays["a"].tolist(), arrays["b"].tolist())],
        "conv_id_a string, conv_id_b string, metric string, "
        "values_a array<double>, values_b array<double>",
    )
    out = P.ab_join_pairs(pairs, 16).toPandas()
    mp, _, mpb, _ = mpx_ab_join(arrays["a"], arrays["b"], 16)
    got_a = out[out.side == "a"].sort_values("idx")["dist"].to_numpy()
    got_b = out[out.side == "b"].sort_values("idx")["dist"].to_numpy()
    np.testing.assert_allclose(got_a, mp[np.isfinite(mp)], atol=1e-9)
    np.testing.assert_allclose(got_b, mpb[np.isfinite(mpb)], atol=1e-9)


def test_cmp_profiles_matches_kernel(spark, arrays):
    ser = _series_df(spark, {"a": arrays["a"]})
    out = (
        P.cmp_profiles(ser, 16, av="complexity")
        .toPandas().sort_values("idx")["cmp"].to_numpy()
    )
    ref = apply_av(W.mpx_profile(arrays["a"], 16), "complexity")["cmp"]
    np.testing.assert_allclose(out, ref, atol=1e-9)


def test_max_subsequence_windows(spark, arrays):
    from matrixprofile_spark.kernels.skimp import maximum_subsequence

    ser = _series_df(spark, {"a": arrays["a"]})
    out = P.max_subsequence_windows(ser, threshold=0.7).collect()
    assert len(out) == 1
    assert out[0]["upper_window"] == maximum_subsequence(
        arrays["a"], threshold=0.7
    )


def test_hierarchical_assignments_groups_duplicates(spark, arrays):
    ser = _series_df(spark, arrays)
    pd_ = P.pairwise_mpdist(ser, 8, metric="m")
    out = {r["conv_id"]: r["cluster"]
           for r in P.hierarchical_assignments(pd_, t=2, criterion="maxclust").collect()}
    assert out["a"] == out["c"]  # near-duplicates cluster together
    assert out["a"] != out["b"]


def test_hierarchical_assignments_refuses_oversized_collect(spark, monkeypatch):
    """The driver-side linkage collect must fail loudly with remediation
    text when the pair table exceeds the MAX_LINKAGE_SERIES bound, not
    OOM the driver (same loud-ceiling pattern as MAX_PACKED_POINTS)."""
    import pytest

    monkeypatch.setattr(P, "MAX_LINKAGE_SERIES", 3)
    pairs = [(a, b, 1.0) for i, a in enumerate("abcd")
             for b in "abcd"[i + 1:]]  # 4 series -> 6 pairs > 3*2/2
    pd_ = spark.createDataFrame(
        pairs, "conv_id_a string, conv_id_b string, mpdist double")
    with pytest.raises(ValueError, match="MAX_LINKAGE_SERIES"):
        P.hierarchical_assignments(pd_, t=2, criterion="maxclust")


def test_pairwise_mpdist_refuses_pair_explosion(spark, arrays):
    """The quadratic theta join must refuse loudly, not schedule n²/2
    Arrow tasks, when the series set exceeds max_pairs."""
    ser = _series_df(spark, arrays)  # 3 series -> 3 pairs
    with pytest.raises(ValueError, match="exceeds max_pairs"):
        P.pairwise_mpdist(ser, 8, metric="m", max_pairs=2)
    # at or under the bound (and with the guard waived) it runs
    assert len(P.pairwise_mpdist(ser, 8, metric="m", max_pairs=3).collect()) == 3
    assert len(P.pairwise_mpdist(ser, 8, metric="m", max_pairs=None).collect()) == 3


def test_json_roundtrip_preserves_profiles(spark, arrays):
    from matrixprofile_spark.io.json_io import (
        read_profiles_json,
        write_profiles_json,
    )

    ser = _series_df(spark, {"a": arrays["a"], "b": arrays["b"]})
    prof = P.mpx_profiles(ser, 16)
    path = tempfile.mkdtemp(prefix="t_json_") + "/p"
    write_profiles_json(prof, path)
    back = read_profiles_json(spark, path)
    a = {r["conv_id"]: r["mp"] for r in prof.collect()}
    b = {r["conv_id"]: r["mp"] for r in back.collect()}
    assert set(a) == set(b)
    for k in a:
        np.testing.assert_allclose(np.asarray(b[k]), np.asarray(a[k]))


def test_json_ref_dict_shape(spark, arrays):
    from matrixprofile_spark.io.json_io import (
        from_json,
        profile_row_to_dict,
        to_json,
    )

    ser = _series_df(spark, {"a": arrays["a"]})
    row = P.mpx_profiles(ser, 16).collect()[0]
    d = profile_row_to_dict(row)
    back = from_json(to_json(d))
    assert back["class"] == "MatrixProfile"
    assert back["w"] == 16 and back["algorithm"] == "mpx"
    np.testing.assert_allclose(back["mp"], np.asarray(row["mp"]))


def test_stream_rollup_matches_batch(spark, arrays):
    from matrixprofile_spark.streaming.structured import stream_rollup_1m

    ser = _series_df(spark, arrays).withColumn(
        "ts_epoch", (F.col("idx") * 7).cast("long")
    )
    wd = tempfile.mkdtemp(prefix="t_stream_")
    ser.write.mode("overwrite").parquet(f"{wd}/src")
    got = (
        stream_rollup_1m(spark, f"{wd}/src", query_name="t_stream_r1m")
        .toPandas()
        .sort_values(["conv_id", "metric", "bucket_epoch"])
        .reset_index(drop=True)
    )
    want = (
        rollup.rollup_from_raw(ser, 60)
        .drop("vfirst", "vlast")
        .toPandas()
        .sort_values(["conv_id", "metric", "bucket_epoch"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    np.testing.assert_allclose(
        got["vsum"].to_numpy(), want["vsum"].to_numpy(), atol=1e-9
    )
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    """An adversarial all-identical corpus lands in one bucket per band;
    with the cap the candidate join emits at most max_bucket²/2 pairs
    per band instead of O(n²), and the audit view names the skipped
    buckets."""
    from matrixprofile_spark.operators.dedup import (
        hot_lsh_buckets,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    n = 60
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated again and again here")
         for i in range(n)],
        "doc_id long, text string",
    )
    sh = shingles(docs)
    sigs = minhash_signatures(sh)

    uncapped = lsh_candidate_pairs(sigs, bands=4, max_bucket=None)
    assert uncapped.count() == n * (n - 1) // 2  # quadratic blow-up

    capped = lsh_candidate_pairs(sigs, bands=4, max_bucket=10)
    assert capped.count() == 0  # every bucket is hot -> no pair fan-out

    hot = hot_lsh_buckets(sigs, bands=4, max_bucket=10).toPandas()
    assert len(hot) == 4  # one hot bucket per band
    assert (hot.n_docs == n).all()

    # a mixed corpus: the cap only silences the hot bucket, distinct
    # docs below the threshold still pair up when they truly collide
    docs2 = docs.union(
        spark.createDataFrame(
            [(1000, "an entirely different small document"),
             (1001, "an entirely different small document")],
            "doc_id long, text string",
        )
    )
    sigs2 = minhash_signatures(shingles(docs2))
    pairs2 = lsh_candidate_pairs(sigs2, bands=4, max_bucket=10).toPandas()
    assert set(map(tuple, pairs2[["id_a", "id_b"]].values)) == {(1000, 1001)}


def test_lsh_cap_drops_only_the_oversized_bucket(spark):
    """The cap counts a bucket's members before any id list is built.
    With one oversized bucket per band (30 identical docs, cap 10), a
    bucket of exactly the cap (10 identical docs) and a few ordinary
    near-duplicates, the pair set must equal the pairs of every
    (band, bucket) of at most max_bucket members — and the hot docs
    must pair with nothing."""
    from itertools import combinations

    from matrixprofile_spark.operators.dedup import (
        _banded,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    rows = [(i, "the same boilerplate text repeated again and again here")
            for i in range(30)]
    rows += [(100 + i, "ten copies of one short footer line at the cap")
             for i in range(10)]
    rows += [(200 + i, f"a distinct doc number {i} with words {i % 3} end")
             for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(shingles(docs))
    cap = 10

    banded = _banded(sigs, 4).toPandas()
    want = set()
    for _, g in banded.groupby(["band", "bucket"]):
        if len(g) <= cap:
            want |= set(combinations(sorted(g.id), 2))
    pairs = lsh_candidate_pairs(sigs, bands=4, max_bucket=cap)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # the count is a window on the (band, bucket) exchange the id-list
    # aggregation reuses, not a size() filter on the built lists
    assert "count(1) windowspecdefinition(band" in plan, plan
    assert plan.count("hashpartitioning(band") == 1, plan
    got = set(map(tuple, pairs.toPandas()[["id_a", "id_b"]].values))
    assert got == want
    assert set(combinations(range(100, 110), 2)) <= got  # at the cap
    assert not any(a < 30 or b < 30 for a, b in got)  # hot: no pairs


def test_ivf_codebook_sampling_routes_like_full(spark):
    """A hash-sampled codebook (deterministic, no RNG) must route
    queries to the same nearest cell as the full-corpus codebook when
    cells are well separated — the 100 TB build path reads a fraction
    of the corpus without changing routing."""
    from matrixprofile_spark.operators.similarity import cell_centroids

    rng = np.random.default_rng(7)
    rows = []
    centers = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    for cell, c in centers.items():
        for i in range(80):
            v = (np.array(c) + rng.normal(0, 0.5, 3)).tolist()
            rows.append((cell * 1000 + i, cell, [float(x) for x in v]))
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )

    full = {
        r["cell"]: np.array(r["centroid"])
        for r in cell_centroids(emb, cell_col="label").collect()
    }
    sampled = {
        r["cell"]: np.array(r["centroid"])
        for r in cell_centroids(
            emb, cell_col="label", sample_mille=400
        ).collect()
    }
    again = {
        r["cell"]: np.array(r["centroid"])
        for r in cell_centroids(
            emb, cell_col="label", sample_mille=400
        ).collect()
    }
    assert set(sampled) == {0, 1, 2}
    for cell in full:
        # deterministic under re-execution
        np.testing.assert_array_equal(sampled[cell], again[cell])
        # sampled centroid stays near the full one (cells are tight)
        assert np.linalg.norm(sampled[cell] - full[cell]) < 1.0
        # nearest-center routing unchanged
        d = {k: float(np.linalg.norm(sampled[cell] - np.array(c)))
             for k, c in {0: [10, 0, 0], 1: [0, 10, 0], 2: [0, 0, 10]}.items()}
        assert min(d, key=d.get) == cell


def test_sampled_codebook_rescues_emptied_cells(spark):
    """Hash-sampling must never drop a cell from the codebook: a cell
    whose every row is sampled out falls back to its unsampled rows."""
    from matrixprofile_spark.operators.similarity import cell_centroids

    rows = [(i, 0, [float(i), 0.0]) for i in range(200)]
    rows.append((10**6 + 7, 1, [0.0, 42.0]))  # 1-row cell
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    cents = {
        r["cell"]: r["centroid"]
        for r in cell_centroids(emb, cell_col="label",
                                sample_mille=100).collect()
    }
    assert set(cents) == {0, 1}
    assert cents[1] == [0.0, 42.0]


def test_learned_codebook_recovers_clusters(spark):
    """Deterministic hash-seeded Lloyd: learned cells must partition a
    well-separated corpus exactly like its ground-truth clusters, and
    ivf_topk over the learned codebook must equal brute force top-k."""
    from matrixprofile_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        learn_codebook,
    )

    rng = np.random.default_rng(11)
    centers = [[20.0, 0.0, 0.0], [0.0, 20.0, 0.0], [0.0, 0.0, 20.0]]
    rows = []
    for g, c in enumerate(centers):
        for i in range(40):
            v = (np.array(c) + rng.normal(0, 0.5, 3)).tolist()
            rows.append((g * 1000 + i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cb = learn_codebook(emb, n_cells=3, iters=3)
    again = learn_codebook(emb, n_cells=3, iters=3)
    assert cb == again  # deterministic end to end
    learned = sorted(np.argmax(cent) for _, cent in cb)
    assert learned == [0, 1, 2]  # one centroid per true cluster

    queries = emb.where(F.col("vec_id").isin(3, 1001, 2002)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    got = ivf_topk(emb, queries, k=3, nprobe=1, codebook=cb).collect()
    want = brute_force_topk(emb, queries, k=3).collect()
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted([(r["query_id"], r["rank"], r["neighbor_id"]) for r in got]) \
        == sorted([(r["query_id"], r["rank"], r["neighbor_id"]) for r in want])


def test_multimodal_frame_sample_reassembles_payload(spark):
    """every_k=1 frame slices concatenate back to the exact payload —
    the byte-layout contract a real frame-sampling pipeline relies on."""
    from matrixprofile_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(2, "x" * 100), (5, "abcdefgh" * 20), (8, "short")],
        "doc_id long, text string",
    )  # doc_id % 3 == 2 -> video
    media = MM.synthesize_media(docs)
    frames = MM.frame_sample(media, every_k=1).toPandas()
    by_doc = frames.sort_values(["doc_id", "frame_idx"]).groupby("doc_id")
    for did, g in by_doc:
        joined = b"".join(bytes(b) for b in g["frame"])
        src = next(t for d, t in [(2, "x" * 100), (5, "abcdefgh" * 20),
                                  (8, "short")] if d == did)
        assert joined == src.encode()


def test_multimodal_features_match_numpy(spark):
    from matrixprofile_spark.operators import multimodal as MM

    docs = spark.createDataFrame(
        [(0, "hello world"), (1, "AAAA"), (2, "zzz!")],
        "doc_id long, text string",
    )
    feats = (
        MM.media_features(MM.synthesize_media(docs))
        .toPandas().set_index("doc_id").sort_index()
    )
    for did, text in [(0, "hello world"), (1, "AAAA"), (2, "zzz!")]:
        b = np.frombuffer(text.encode(), dtype=np.uint8)
        assert feats.loc[did, "n_bytes"] == len(b)
        assert feats.loc[did, "max_byte"] == int(b.max())
        assert abs(feats.loc[did, "mean_byte"] - float(b.mean())) < 1e-12
    assert list(feats["kind"]) == ["image", "audio", "video"]


def test_multimodal_resize_overlong_payload(spark):
    """A payload longer than width*height truncates (the documented
    [:w*h] contract) instead of crashing np.pad with a negative width —
    synthesize_media happens to guarantee height=ceil(nb/16), but the
    operator is public and must not rely on that."""
    from matrixprofile_spark.operators import multimodal as MM

    media = spark.createDataFrame(
        [(1, "image", 4, 2, bytearray(range(20)))],  # 20 bytes > 4*2
        "doc_id long, kind string, width int, height int, payload binary",
    )
    rows = MM.resize_images(media, out_w=2, out_h=2).collect()
    assert len(rows) == 1
    # nearest-neighbor over the truncated 2x4 grid [[0..3],[4..7]]
    assert rows[0]["pixels"] == [0, 2, 4, 6]


def test_multimodal_real_codec_seam_is_stubbed():
    from matrixprofile_spark.operators import multimodal as MM

    with pytest.raises(NotImplementedError):
        MM.decode_with_real_codecs("video", b"\x00\x01")
