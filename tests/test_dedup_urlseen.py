"""Dedup operators (simhash, jaccard) + Bloom URL-seen unit tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from warps_nutch_spark.operators import dedup
from warps_nutch_spark.store.urlseen import BloomUrlSeen


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different text about spark shuffles and joins"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_simhash_near_dups_are_close(spark):
    out = dedup.simhash_bits(_docs(spark)).toPandas().set_index("doc_id")
    b1, b2, b3, b4 = (out.loc[i, "simhash_bits"] for i in (1, 2, 3, 4))
    assert len(b1) == 64 and set(b1) <= {"0", "1"}
    assert b1 == b4  # exact dup -> identical simhash
    ham12 = sum(a != b for a, b in zip(b1, b2))
    ham13 = sum(a != b for a, b in zip(b1, b3))
    assert ham12 < ham13  # near-dup closer than unrelated


def test_jaccard_pairs(spark):
    docs = _docs(spark)
    cands = spark.createDataFrame(
        pd.DataFrame({"doc_a": [1, 1], "doc_b": [2, 3]})
    )
    out = dedup.jaccard_pairs(docs, cands).toPandas().set_index(["doc_a", "doc_b"])
    # docs 1/2 share 6 of 7 distinct 3-gram shingles each -> j = 6/8
    assert out.loc[(1, 2), "jaccard"] == pytest.approx(6 / 8)
    assert (1, 3) not in out.index  # zero overlap filtered (j > 0)


def _minhash_corpus(spark):
    """Exact dups, a high-Jaccard near-dup pair, and unrelated docs."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near-dup of 1 (J = 6/9 on 3-gram shingles... high)
        (4, "one two three four five six seven eight nine ten"),
        (5, "spark shuffles partition data across the cluster nodes fast"),
        (6, base),  # second exact dup
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


@pytest.mark.parametrize("n_hashes,n_bands", [(4, 2), (8, 4), (8, 8)])
def test_minhash_lsh_parameterizations_vs_allpairs_jaccard(spark, n_hashes, n_bands):
    """Every parameterization: exact duplicates are ALWAYS candidates
    (identical shingle sets -> identical minhash vector), and every
    candidate pair truly shares a shingle (equal band mins imply a
    common minimizing shingle)."""
    docs = _minhash_corpus(spark)
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs, n_hashes, n_bands).collect()
    }
    assert {(1, 2), (1, 6), (2, 6)} <= cands  # exact dups always recalled
    truth = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(
            docs,
            spark.createDataFrame(
                pd.DataFrame(
                    [(a, b) for a in range(1, 7) for b in range(a + 1, 7)],
                    columns=["doc_a", "doc_b"],
                )
            ),
        ).collect()
    }
    for pair in cands:
        assert truth.get(pair, 0.0) > 0.0, f"false candidate {pair}"


def test_minhash_lsh_band_refinement_is_monotone(spark):
    """For fixed n_hashes, more bands (shorter keys) only ADD candidate
    pairs: a match on a concatenated band key implies a match on each
    sub-key. This is the documented S-curve knob (threshold ~ (1/b)^(1/r))."""
    docs = _minhash_corpus(spark)

    def cand(n_bands):
        return {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_pairs(docs, 8, n_bands).collect()
        }

    c1, c2, c4, c8 = cand(1), cand(2), cand(4), cand(8)
    assert c1 <= c2 <= c4 <= c8
    # the near-dup pair appears once bands are fine enough (r=1 bands
    # collide iff SOME hash agrees — true here since J > 0.5)
    assert (1, 3) in c8


def test_langid_trigram_recall_on_multilingual_text(spark):
    """The built-in trigram profiles pick the right language for
    constructed sentences in each covered language, and 'unknown' for
    text with no profile hits."""
    from warps_nutch_spark.operators.langid import langid_trigram

    rows = [
        (1, "the cat sat on the mat and the dog is in the garden of things"),
        (2, "der hund und die katze schlafen in einem schoenen garten"),
        (3, "le chat et le chien dorment dans le jardin avec les fleurs"),
        (4, "el perro y el gato duermen en una casa con los arboles"),
        (5, "zzzz qqqq xxxx"),  # no profile trigrams
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {r["doc_id"]: r["lang_guess"] for r in langid_trigram(docs).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "unknown"}


def test_minhash_lsh_rejects_indivisible_params(spark):
    with pytest.raises(ValueError):
        dedup.minhash_lsh_pairs(_minhash_corpus(spark), n_hashes=6, n_bands=4)


def test_bloom_pre_screen_no_false_negatives(spark, workdir):
    bloom = BloomUrlSeen(f"{workdir}/bloom", partitions=4,
                         capacity_per_partition=10_000, fp_rate=0.01)
    seen = spark.createDataFrame(
        pd.DataFrame({"k": [f"hash-{i:05d}" for i in range(2000)]})
    )
    bloom.merge_round(seen.select(F.col("k")), "k", "r0")
    probe = spark.createDataFrame(
        pd.DataFrame({"k": [f"hash-{i:05d}" for i in range(1500, 3000)]})
    )
    out = bloom.maybe_seen(probe, "k").toPandas().set_index("k")
    known = [f"hash-{i:05d}" for i in range(1500, 2000)]
    unknown = [f"hash-{i:05d}" for i in range(2000, 3000)]
    # Bloom guarantee: NO false negatives for merged keys
    assert out.loc[known, "maybe_seen"].all()
    # false-positive rate within ~5x of configured 1%
    fp = out.loc[unknown, "maybe_seen"].mean()
    assert fp < 0.05
    man = bloom.manifest()
    assert man["items"] == 2000 and man["rounds"][0]["batch_id"] == "r0"


def test_bloom_incremental_merge(spark, workdir):
    bloom = BloomUrlSeen(f"{workdir}/bloom2", partitions=2,
                         capacity_per_partition=1_000, fp_rate=0.01)
    a = spark.createDataFrame(pd.DataFrame({"k": ["a", "b"]}))
    b = spark.createDataFrame(pd.DataFrame({"k": ["c"]}))
    bloom.merge_round(a, "k", "r0")
    bloom.merge_round(b, "k", "r1")
    probe = spark.createDataFrame(pd.DataFrame({"k": ["a", "b", "c"]}))
    out = bloom.maybe_seen(probe, "k").toPandas()
    assert out.maybe_seen.all()
    assert len(bloom.manifest()["rounds"]) == 2


def test_bloom_resume_replay_is_noop(spark, workdir):
    """A resumed round that merges its batch a second time leaves the
    manifest as the first merge wrote it: no second round entry and no
    doubled ``items``."""
    bloom = BloomUrlSeen(f"{workdir}/bloom3", partitions=2,
                         capacity_per_partition=1_000, fp_rate=0.01)
    keys = spark.createDataFrame(pd.DataFrame({"k": ["a", "b", "c"]}))
    bloom.merge_round(keys, "k", "r0")
    before = bloom.manifest()
    bloom.merge_round(keys, "k", "r0")
    assert bloom.manifest() == before
    assert before["items"] == 3 and len(before["rounds"]) == 1


def test_lsh_cosine_dedup_recall_and_precision(spark):
    """The bucketed near-dup pipeline (sign-LSH bands -> exact-cosine
    verify) must (a) return ONLY pairs above the threshold (precision
    1.0 by construction — verify is exact) and (b) find nearly all
    true near-dup pairs on a corpus of jittered copies (recall of the
    banded LSH at cos >= 0.95 with 4 bands x 4 bits is ~0.99)."""
    import numpy as np

    from warps_nutch_spark.operators.ann import allpairs_cosine, lsh_cosine_dedup

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 64))
    rows = []
    vid = 0
    for i, v in enumerate(base):
        rows.append((vid, [float(x) for x in v])); vid += 1
        if i % 2 == 0:  # jittered near-dup (cos ~ 0.995)
            w = v + rng.normal(scale=0.05, size=64)
            rows.append((vid, [float(x) for x in w])); vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    planes = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("plane_id"), F.col("embedding").alias("pe")
    )
    got = {
        (r.vec_a, r.vec_b)
        for r in lsh_cosine_dedup(emb, planes, 4, 4, 0.9).collect()
    }
    truth = {(r.vec_a, r.vec_b) for r in allpairs_cosine(emb, 0.9).collect()}
    assert truth, "constructed corpus has no near-dup pairs — vacuous"
    # precision: every returned pair is a true >0.9 pair (exact verify)
    assert got <= truth
    # recall: banded LSH finds nearly all of them
    assert len(got) / len(truth) >= 0.9, (len(got), len(truth))


def test_phash_hamming_pairs_real_images(spark):
    """hamming_pairs_int64 over REAL DCT pHashes: banded bucket join
    must recover exactly the brute-force Hamming<=t pairs (pigeonhole:
    t=7 < n_bands=8 guarantees recall; the verify step guarantees
    precision)."""
    import itertools

    from warps_nutch_spark.functions import codec

    imgs = {}
    for i in range(8):
        px = codec.synth_pixels(i * 101, 32, 32)
        imgs[f"img-{i}"] = codec.phash(px)
        # perturbed twin: tiny brightness nudge in one corner ->
        # perceptually identical -> small Hamming distance
        px2 = px.copy()
        px2[:4, :4] = np.clip(px2[:4, :4].astype(int) + 2, 0, 255).astype(px.dtype)
        imgs[f"img-{i}-tw"] = codec.phash(px2)

    max_h, n_bands = 7, 8
    truth = {
        (a, b)
        for (a, ha), (b, hb) in itertools.combinations(sorted(imgs.items()), 2)
        if codec.hamming64(ha, hb) <= max_h
    }
    # sanity: at least half the planted twins land within threshold
    twins = {p for p in truth if p[0] + "-tw" == p[1]}
    assert len(twins) >= 4

    sigs = spark.createDataFrame(
        pd.DataFrame(
            {"image_id": list(imgs), "phash": list(imgs.values())}
        )
    )
    got = dedup.hamming_pairs_int64(
        sigs, sig_col="phash", id_col="image_id", n_bands=n_bands, max_hamming=max_h
    ).toPandas()
    got_pairs = {tuple(sorted((r.id_a, r.id_b))) for r in got.itertuples()}
    assert got_pairs == truth
    # verify column is the true distance
    for r in got.itertuples():
        assert r.hamming == codec.hamming64(imgs[r.id_a], imgs[r.id_b])


def test_minhash_incremental_dedup_corpus_vs_batch(spark, workdir):
    """Incremental admission gate: new docs dedup against a PERSISTED
    corpus band table (corpus never re-shingled); corpus match beats
    same-batch match; non-colliding docs are admitted (absent)."""
    import os

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        pd.DataFrame(
            [(1, base),
             (2, "one two three four five six seven eight nine ten")],
            columns=["doc_id", "text"],
        )
    )
    new = spark.createDataFrame(
        pd.DataFrame(
            [
                (10, base),        # dup of corpus doc 1
                (11, "completely different text about nothing shared at all"),
                (12, "completely different text about nothing shared at all"),
                # dup of corpus 1 AND of new 10 -> corpus wins
                (13, base),
            ],
            columns=["doc_id", "text"],
        )
    )
    # persist the corpus state, read it back (the 100 TB shape)
    path = os.path.join(workdir, "corpus_bands")
    dedup.minhash_band_table(corpus).write.parquet(path)
    corpus_bands = spark.read.parquet(path)
    out = {
        r["doc_id"]: r["dup_of"]
        for r in dedup.minhash_incremental_dedup(
            dedup.minhash_band_table(new), corpus_bands
        ).collect()
    }
    assert out == {10: 1, 12: 11, 13: 1}  # 11 admitted (absent)


def test_sq8_topk_rescoring_vs_exact(spark):
    """SQ8 two-stage ANN: rescored scores are the EXACT float cosines,
    and at coarse_factor=4 the candidate pool recovers (nearly) the
    exact top-k on the test embeddings."""
    from pyspark.sql import functions as F

    from warps_nutch_spark.operators.ann import (
        brute_force_topk,
        sq8_topk_rescored,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    corpus = emb.filter(F.col("vec_id") != 0)
    exact = {r["vec_id"]: r["cosine"] for r in brute_force_topk(corpus, qv, 10).collect()}
    sq8 = {r["vec_id"]: r["cosine"] for r in sq8_topk_rescored(corpus, qv, 10).collect()}
    # rescoring reports true cosines: any id in both must agree exactly
    for vid in set(exact) & set(sq8):
        assert sq8[vid] == exact[vid]
    # int8 coarse stage keeps >= 8/10 of the exact top-k
    assert len(set(exact) & set(sq8)) >= 8
