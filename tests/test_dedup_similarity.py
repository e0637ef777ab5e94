"""Dedup family + similarity search: planted duplicates/near-duplicates,
LSH recall vs brute force, SimHash Hamming properties, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tods_spark.operators import dedup as DD
from tods_spark.operators import multimodal as MM
from tods_spark.operators import similarity as SIM
from tods_spark.operators import text as TX

WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def _corpus(n=60, seed=3):
    """Random docs + planted exact dup + planted near-dup (one word changed)."""
    rng = np.random.default_rng(seed)
    docs = [" ".join(rng.choice(WORDS, 40)) for _ in range(n)]
    docs.append(docs[0])  # exact dup of doc 0 -> id n
    near = docs[1].split()
    near[20] = "CHANGED"
    docs.append(" ".join(near))  # near-dup of doc 1 -> id n+1
    return pd.DataFrame({"doc_id": [f"d{i:03d}" for i in range(len(docs))],
                         "text": docs})


def test_exact_dup_groups(spark):
    pdf = _corpus()
    out = DD.exact_dup_groups(spark.createDataFrame(pdf)).toPandas()
    dups = out[out.n_dups > 1]
    assert len(dups) == 1 and dups.iloc[0]["n_dups"] == 2
    assert dups.iloc[0]["keeper"] == "d000"


def _py_jaccard(a: str, b: str, n=3):
    def sh(t):
        w = t.split()
        m = max(len(w) - n, 0)
        return {" ".join(w[i : i + n]) for i in range(m + 1)}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_ngram_jaccard_matches_python(spark):
    pdf = _corpus(n=25)
    out = DD.ngram_jaccard_pairs(
        spark.createDataFrame(pdf), threshold=0.0
    ).toPandas()
    got = {(r.id_a, r.id_b): r.jaccard for r in out.itertuples()}
    texts = dict(zip(pdf.doc_id, pdf.text))
    ids = sorted(texts)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            expect = _py_jaccard(texts[a], texts[b])
            if expect > 0:
                assert (a, b) in got
                assert abs(got[(a, b)] - expect) < 1e-3, (a, b)
    # the planted near-dup pair has very high jaccard
    near = out[(out.id_a == "d001") & (out.id_b == "d026")]
    assert len(near) == 1 and near.iloc[0]["jaccard"] > 0.8


def test_minhash_lsh_finds_planted_pairs(spark):
    pdf = _corpus()
    n = len(pdf) - 2
    cand = DD.minhash_lsh_candidates(
        spark.createDataFrame(pdf), k=32, bands=16
    ).toPandas()
    pairs = set(zip(cand.id_a, cand.id_b))
    assert ("d000", f"d{n:03d}") in pairs        # exact dup always collides
    assert ("d001", f"d{n+1:03d}") in pairs      # near-dup (jaccard ~0.92)
    # LSH prunes: far fewer candidates than the ~1.9k total pairs
    assert len(pairs) < 200


def test_minhash_sig_sql_matches_column_builder(spark):
    """Differential (optimization r7): the SQL-text signature builder
    (`_minhash_sig_sql`, the low-construction-cost hot path) is
    value-identical to the Column-object builder (`_minhash_sig_expr`,
    kept for inline-expression callers) for both base hashes."""
    pdf = _corpus()
    df = spark.createDataFrame(pdf)
    for hash_fn in ("xxhash64", "md5"):
        base = (
            (lambda s: DD.md5_h64(s)) if hash_fn == "md5"
            else (lambda s: F.xxhash64(s))
        )
        hs = F.transform(
            DD.shingle_array("text", 3),
            lambda s: F.pmod(base(s), F.lit(DD.MINHASH_P)),
        )
        via_col = (
            df.select(F.col("doc_id").alias("id"), hs.alias("__hs__"))
            .select("id", DD._minhash_sig_expr(F.col("__hs__"), 16)
                    .alias("sig"))
        )
        via_sql = DD.minhash_signatures(df, k=16, hash_fn=hash_fn)
        diff = (via_sql.alias("a").join(via_col.alias("b"), "id")
                .filter("a.sig != b.sig").count())
        assert diff == 0, hash_fn


def test_simhash_properties(spark):
    pdf = _corpus()
    n = len(pdf) - 2
    sig = DD.simhash64(spark.createDataFrame(pdf)).toPandas()
    s = dict(zip(sig.id, sig.simhash))
    assert s["d000"] == s[f"d{n:03d}"]  # identical text -> identical simhash

    def ham(a, b):
        # mask to 64 bits: xxhash64 signatures can be negative int64s and
        # bin() of a negative python int shows the magnitude, not the bits
        return bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1")

    ham_near = ham(s["d001"], s[f"d{n+1:03d}"])
    rng_pairs = [ham(s["d002"], s["d003"]), ham(s["d004"], s["d005"])]
    assert ham_near < min(rng_pairs)  # near-dup closer than random pairs
    near = DD.simhash_near_pairs(
        spark.createDataFrame(pdf), max_hamming=max(ham_near, 1)
    ).toPandas()
    pairs = set(zip(near.id_a, near.id_b))
    assert ("d000", f"d{n:03d}") in pairs
    assert ("d001", f"d{n+1:03d}") in pairs


def _emb_frame(n=300, dim=32, seed=11):
    rng = np.random.default_rng(seed)
    M = rng.standard_normal((n, dim)).astype(np.float32)
    # plant a near-duplicate of vector 0
    M[n - 1] = M[0] + rng.standard_normal(dim).astype(np.float32) * 0.05
    return pd.DataFrame({"vec_id": range(n), "embedding": list(M)}), M


def test_cosine_topk_bruteforce_matches_numpy(spark):
    pdf, M = _emb_frame()
    q = M[0].astype(float)
    df = spark.createDataFrame(pdf)
    got = SIM.cosine_topk_bruteforce(df, list(q), k=5).toPandas()
    cos = (M @ q) / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
    order = np.argsort(-cos)[:5]
    assert list(got["vec_id"]) == list(order)
    np.testing.assert_allclose(got["cosine"], np.round(cos[order] + 1e-9, 4),
                               atol=2e-4)


def test_ann_lsh_recall(spark):
    pdf, M = _emb_frame()
    q = M[0].astype(float)
    df = spark.createDataFrame(pdf)
    exact = set(
        SIM.cosine_topk_bruteforce(df, list(q), k=5).toPandas()["vec_id"]
    )
    approx = SIM.ann_topk_lsh(df, list(q), k=5, n_planes=8, probes=3).toPandas()
    # multi-probe LSH must at least find the query itself and its planted dup
    got = set(approx["vec_id"])
    assert 0 in got and (len(M) - 1) in got
    assert len(got & exact) >= 3  # decent recall on 300 vectors


def test_cosine_near_pairs_finds_planted(spark):
    pdf, M = _emb_frame()
    df = spark.createDataFrame(pdf)
    pairs = SIM.cosine_near_pairs(df, threshold=0.9, n_planes=6).toPandas()
    assert ((pairs.id_a == 0) & (pairs.id_b == len(M) - 1)).any()


def test_multimodal_plumbing(spark):
    pdf = _corpus(n=10)
    pdf["doc_id"] = range(len(pdf))
    media = MM.attach_fake_media(spark.createDataFrame(pdf))
    assert dict(media.dtypes)["payload"] == "binary"
    feats = MM.extract_features(media, n_features=16).toPandas()
    assert len(feats) == len(pdf)
    assert all(len(f) == 16 for f in feats["features"])
    # deterministic: same payload -> same features
    f2 = MM.extract_features(media, n_features=16).toPandas()
    a = np.vstack(feats.sort_values("doc_id")["features"])
    b = np.vstack(f2.sort_values("doc_id")["features"])
    np.testing.assert_array_equal(a, b)
    # strict decode is an explicit stub
    with pytest.raises(Exception):
        MM.extract_features(media, strict_decode=True).collect()


def test_lang_id_markers(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the cat and the dog is of note to all",
                "le chat et la mer les vagues des champs",
                "xyzzy plugh quux",
            ],
        }
    )
    out = TX.lang_id(spark.createDataFrame(pdf)).orderBy("doc_id").toPandas()
    assert list(out["lang_guess"]) == ["en", "fr", "und"]


def test_repetition_signals_vs_python_replay(spark):
    """Gopher-style repetition signals: the codegen sorted-array folds
    agree with a direct Python computation on multi-line, repetitive,
    and degenerate (one-word) documents, including the count-desc /
    lexicographic tie-break for the top n-gram."""
    import re
    from collections import Counter

    docs = [
        (1, "a b a b a b c"),              # heavy 2-gram repetition
        (2, "x\ny\nx\n\nz line\nline x"),  # duplicate lines + blanks
        (3, "w"),                          # no n-grams
        (4, "t u t u v u t"),              # tie on 2-gram counts
        (5, "only unique words here now"),
    ]

    def replay(text):
        w = [t for t in re.split(r"\s+", text.strip()) if t != ""]
        lines = [l for l in text.split("\n") if l.strip() != ""]
        out = {"n_words": len(w)}
        dup_l = len(lines) - len(set(lines))
        cnt_l = Counter(lines)
        dupch = sum((c - 1) * len(l) for l, c in cnt_l.items())
        tot_l = sum(len(l) for l in lines)
        out["dup_line_frac"] = dup_l / len(lines) if lines else 0.0
        out["dup_line_char_frac"] = dupch / max(tot_l, 1)
        out["dup_word_frac"] = (len(w) - len(set(w))) / len(w) if w else 0.0

        def grams(n):
            return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)] \
                if len(w) >= n else []

        g2 = grams(2)
        out["dup_2gram_frac"] = (
            (len(g2) - len(set(g2))) / len(g2) if g2 else 0.0
        )
        for n, col in ((2, "top_2gram_char_frac"), (3, "top_3gram_char_frac")):
            g = grams(n)
            if g:
                c = Counter(g)
                best = min(sorted(c), key=lambda k: (-c[k], k))
                out[col] = c[best] * len(best) / max(len(text), 1)
            else:
                out[col] = 0.0
        return out

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = TX.repetition_signals(sdf).orderBy("doc_id").toPandas()
    for _, row in got.iterrows():
        exp = replay(dict(docs)[row.doc_id])
        for k, v in exp.items():
            assert abs(row[k] - v) < 1e-12, (row.doc_id, k, row[k], v)


def test_tfidf_topk_vs_python_replay(spark):
    """tfidf_topk matches a direct Counter-based replay (sklearn smoothed
    idf), including the score-desc/word-asc tie-break."""
    import math
    from collections import Counter

    docs = [(1, "cat dog cat fish"), (2, "dog dog bird"),
            (3, "cat bird bird bird"), (4, "zebra")]
    texts = dict(docs)
    n_docs = len(docs)
    dfreq = Counter()
    for t in texts.values():
        dfreq.update(set(t.split()))

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = TX.tfidf_topk(sdf, k=2).orderBy("doc_id", "rank").toPandas()
    for _, row in got.iterrows():
        tf = Counter(texts[row.doc_id].split())
        scored = sorted(
            ((t * (math.log((n_docs + 1) / (dfreq[w] + 1)) + 1.0), w)
             for w, t in tf.items()),
            key=lambda p: (-p[0], p[1]),
        )
        exp_score, exp_word = scored[row["rank"] - 1]
        assert row.word == exp_word, (row.doc_id, row["rank"])
        assert abs(row.tfidf - exp_score) < 1e-12


def test_ngram_contamination_planted(spark):
    """Decontamination check: planted exact/partial/clean test docs get
    the expected 3-gram hit fractions, short docs emit no row, and the
    xxhash64-keyed scale path agrees with the string-keyed default."""
    train = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),  # fully contained
            (2, "alpha beta gamma zeta eta"),       # 1 of 3 grams hit
            (3, "one two three four"),              # clean
            (4, "xy zz"),                           # < 3 words: no row
        ],
        "doc_id long, text string",
    )
    for hash64 in (False, True):
        out = (
            DD.ngram_contamination(test, train, n=3, hash64=hash64)
            .orderBy("doc_id")
            .toPandas()
        )
        assert list(out.doc_id) == [1, 2, 3], hash64
        assert list(out.n_grams) == [3, 3, 2]
        assert list(out.n_hit) == [3, 1, 0]
        assert abs(out.contamination_frac[1] - 1 / 3) < 1e-12


def test_stratified_sample_and_pack_sequences(spark):
    """Mixture sampling: exactly k per stratum (all rows when the stratum
    is smaller), identical across repartitionings. Packing: start_offset
    replays the per-key cumulative sum and bin = floor(start/budget)."""
    from tods_spark.operators import preprocessing as PP

    rows = [(i, f"s{i % 3}", 100 + 37 * (i % 5)) for i in range(20)]
    rows.append((99, "tiny", 50))
    sdf = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")

    got = PP.stratified_sample(sdf, 3, id_col="doc_id").toPandas()
    counts = got.groupby("source").size().to_dict()
    assert counts == {"s0": 3, "s1": 3, "s2": 3, "tiny": 1}
    got2 = PP.stratified_sample(sdf.repartition(7), 3, id_col="doc_id").toPandas()
    assert set(got.doc_id) == set(got2.doc_id)

    packed = PP.pack_sequences(sdf, budget=400).orderBy("source", "doc_id").toPandas()
    for src, grp in packed.groupby("source"):
        cum = 0
        for _, r in grp.iterrows():
            assert r.start_offset == cum
            assert r.pack_bin == cum // 400
            cum += r.n_chars


def test_ann_ivf_recall_and_zero_shuffle_assignment(spark):
    """IVF ANN: with enough probes the partitioned search returns the
    exact brute-force top-k; the assignment stage plan contains no
    Exchange (literal-centroid fold — pure projection)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from pyspark.sql import functions as F
    q = [float(x) for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    exact = SIM.cosine_topk_bruteforce(emb, q, k=5).toPandas()
    # nprobe = nlist -> every list probed -> must equal the exact result
    full = SIM.ann_topk_ivf(emb, q, k=5, nlist=4, nprobe=4).toPandas()
    assert list(full.vec_id) == list(exact.vec_id)
    # narrow probe keeps >= 3/5 of the exact set on this data
    narrow = SIM.ann_topk_ivf(emb, q, k=5, nlist=4, nprobe=2).toPandas()
    assert len(set(narrow.vec_id) & set(exact.vec_id)) >= 3
    # assignment is shuffle-free
    cent = [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id") < 4).collect()]
    plan = (SIM.ivf_assign(emb, cent)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_ann_ivf_trained_codebook(spark):
    """The IVF codebook is a real trained k-means: deterministic across
    calls and input partitionings, list_ids sorted 0..k-1, and Lloyd
    iterations actually move the centroids off the strided init."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb1 = SIM.kmeans_codebook(emb, nlist=4, train_n=32, iters=10)
    cb2 = SIM.kmeans_codebook(emb.repartition(7), nlist=4, train_n=32,
                              iters=10)
    assert [c for c, _ in cb1] == [0, 1, 2, 3]  # sorted, dense list ids
    assert cb1 == cb2  # partitioning-invariant (bounded ordered sample)
    init = SIM.kmeans_codebook(emb, nlist=4, train_n=32, iters=0)
    moved = [
        float(np.linalg.norm(np.array(a[1]) - np.array(b[1])))
        for a, b in zip(init, cb1)
    ]
    assert any(m > 1e-6 for m in moved)  # training isn't a no-op
    # trained codebook still answers: full probe == exact brute force
    from pyspark.sql import functions as F
    q = [float(x) for x in emb.filter(F.col("vec_id") == 2).first()["embedding"]]
    exact = SIM.cosine_topk_bruteforce(emb, q, k=5).toPandas()
    full = SIM.ann_topk_ivf(emb, q, k=5, nlist=4, nprobe=4).toPandas()
    assert list(full.vec_id) == list(exact.vec_id)
    # the training sample is the md5-ordered (corpus-order-unbiased)
    # order statistic, cross-checked against DuckDB's md5 of the same
    # decimal string: with nlist == train_n and iters=0 the init
    # centroids ARE the id-sorted sample
    import duckdb

    exp_ids = sorted(
        r[0] for r in duckdb.sql(
            "SELECT vec_id FROM "
            "'/root/testdata/sf0.001/embeddings.parquet' "
            "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16"
        ).fetchall()
    )
    assert 0 not in exp_ids or exp_ids != list(range(16))  # not a prefix
    init16 = SIM.kmeans_codebook(emb, nlist=16, train_n=16, iters=0)
    vec = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
           for r in emb.filter(F.col("vec_id").isin(exp_ids)).collect()}
    assert [c for _, c in init16] == [vec[i] for i in exp_ids]


def test_word_entropy_vs_python_replay(spark):
    """Shannon word entropy: the sorted-array fold matches a Counter
    replay; all-distinct docs hit log2(n), single-word docs hit 0."""
    import math
    from collections import Counter

    pdf = _corpus(n=15)
    pdf.loc[len(pdf)] = ["dsame", "rep rep rep rep"]
    pdf.loc[len(pdf)] = ["done", "solo"]
    out = (
        TX.word_entropy(spark.createDataFrame(pdf))
        .select("doc_id", "n_words", "n_distinct", "entropy", "norm_entropy")
        .toPandas()
        .set_index("doc_id")
    )
    for _, row in pdf.iterrows():
        w = row.text.split()
        cnt = Counter(w)
        ent = -sum((c / len(w)) * math.log2(c / len(w)) for c in cnt.values())
        got = out.loc[row.doc_id]
        assert got.n_words == len(w) and got.n_distinct == len(cnt)
        assert abs(got.entropy - ent) < 1e-9
        expect_norm = ent / math.log2(len(cnt)) if len(cnt) > 1 else 0.0
        assert abs(got.norm_entropy - expect_norm) < 1e-9
    assert out.loc["dsame"].entropy == 0.0
    assert out.loc["done"].entropy == 0.0


def test_source_mixture_weights_tau(spark):
    """Temperature weights: sum to 1, match numpy's size^tau normalization,
    and tau<1 upweights the small source above its natural share."""
    from tods_spark.operators import preprocessing as PP

    rows = [(i, "big", 1000) for i in range(90)] + [
        (100 + i, "small", 500) for i in range(10)
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = PP.source_mixture_weights(sdf, tau=0.5).toPandas().set_index("source")
    sizes = {"big": 90 * 1000.0, "small": 10 * 500.0}
    wr = {s: v ** 0.5 for s, v in sizes.items()}
    tot = sum(wr.values())
    for s in sizes:
        assert abs(out.loc[s].mixture_weight - wr[s] / tot) < 1e-12
        assert abs(out.loc[s].natural_share - sizes[s] / 95000.0) < 1e-12
    assert abs(out.mixture_weight.sum() - 1.0) < 1e-12
    assert out.loc["small"].mixture_weight > out.loc["small"].natural_share


def test_connected_components_chain_and_clusters(spark):
    """Min-label propagation: a 4-vertex chain (worst diameter) collapses
    to one component labeled by its min id; neardup_clusters groups the
    planted exact+near dup with its original under the original's id."""
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    comp = {r.id: r.lbl for r in DD.connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    pdf = _corpus(n=30)  # +2 planted: exact dup of d000, near-dup of d001
    clusters = DD.neardup_clusters(
        spark.createDataFrame(pdf), k=16, bands=8, hash_fn="md5"
    ).toPandas()
    by_doc = clusters.set_index("doc_id").cluster_id.to_dict()
    assert by_doc.get("d030") == "d000" and by_doc.get("d000") == "d000"
    assert by_doc.get("d031") == "d001" and by_doc.get("d001") == "d001"


def test_connected_components_star_chain_logarithmic(spark):
    """Adversarial long-chain graph: large-star/small-star alternation
    (Kiveris et al. 2014) must collapse a planted 10^4-long chain in
    O(log d) rounds — plain min-propagation would need diameter (10^4)
    rounds. Asserts both the round bound and full label correctness."""
    n = 10_000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(n + 5, n + 6)],
        "src long, dst long",
    )
    labels, rounds = DD._cc_star(edges, max_iter=50)
    # path graphs contract by ~2x per full round: expect ~log2(d) (+2
    # fixed-point-detection rounds); measured 15 for d=10^4. The bound
    # asserts the ORDER (2*log2 + slack), vs 10^4 rounds for min-prop.
    assert rounds <= 30, f"chain took {rounds} rounds (expected O(log d))"
    got = {r.id: r.lbl for r in labels.collect()}
    assert len(got) == n + 2
    assert all(got[i] == 0 for i in range(n))
    assert got[n + 5] == n + 5 and got[n + 6] == n + 5


def test_connected_components_star_matches_minprop(spark):
    """Differential test: the star alternation and plain min-propagation
    produce identical (id, cluster_id) labels on a seeded random graph
    (mixed component shapes: stars, chains, cliques, singleton edges)."""
    rng = np.random.default_rng(7)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 400, (300, 2))
             if a != b]
    edges += [(1000 + i, 1000 + i + 1) for i in range(30)]  # chain
    edges += [(2000, 2000 + i) for i in range(1, 20)]       # star
    e = spark.createDataFrame(edges, "src long, dst long")
    star = {r.id: r.lbl for r in DD.connected_components(e).collect()}
    prop = {r.id: r.lbl
            for r in DD.connected_components_minprop(e, max_iter=60).collect()}
    assert star == prop


def test_connected_components_driver_matches_star(spark):
    """The size-guarded driver union-find path (edge count <=
    DRIVER_CC_EDGES collects and solves on the driver) and the distributed
    star alternation (`_cc_star`) produce identical (id, cluster_id) labels
    on the same mixed-shape random graph — for numeric AND string ids —
    and self-loop-only vertices are excluded by both (the documented
    contract)."""
    rng = np.random.default_rng(11)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 300, (400, 2))]
    edges += [(900 + i, 900 + i + 1) for i in range(40)]   # chain
    edges += [(555, 555)]                                  # self loop only
    e = spark.createDataFrame(edges, "src long, dst long")
    drv = sorted(map(tuple, DD.connected_components(e).collect()))
    star = sorted(map(tuple, DD._cc_star(e)[0].collect()))
    assert drv == star
    assert 555 not in {i for i, _ in drv}
    es = spark.createDataFrame(
        [(f"d{a:04d}", f"d{b:04d}") for a, b in edges], "src string, dst string"
    )
    drv_s = sorted(map(tuple, DD.connected_components(es).collect()))
    star_s = sorted(map(tuple, DD._cc_star(es)[0].collect()))
    assert drv_s == star_s


def test_dedup_keep_drops_planted(spark):
    """dedup_keep removes the planted exact+near dup, keeps the originals
    and everything else untouched."""
    pdf = _corpus(n=30)  # 32 rows: d030 dups d000, d031 near-dups d001
    sdf = spark.createDataFrame(pdf)
    kept = DD.dedup_keep(sdf, k=16, bands=8, hash_fn="md5").toPandas()
    ids = set(kept.doc_id)
    assert "d000" in ids and "d001" in ids
    assert "d030" not in ids and "d031" not in ids
    # kept == all docs minus exactly the non-canonical cluster members
    # (random docs may LSH-collide too, so derive the expected drop set
    # from the clustering op rather than hardcoding it)
    clusters = DD.neardup_clusters(sdf, k=16, bands=8, hash_fn="md5").toPandas()
    expected_drop = set(
        clusters[clusters.doc_id != clusters.cluster_id].doc_id
    )
    assert {"d030", "d031"} <= expected_drop
    assert ids == set(pdf.doc_id) - expected_drop


def test_ngram_topk_counts_and_tiebreak(spark):
    """Top-k 3-grams: counts match a Counter replay; ties resolve gram-asc;
    docs shorter than n contribute nothing."""
    from collections import Counter

    docs = ["a b c d", "a b c x", "b c d", "zz yy", "q"]
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = TX.ngram_topk(sdf, n=3, k=3).toPandas()
    cnt = Counter()
    for t in docs:
        w = t.split()
        for i in range(len(w) - 2):
            cnt[" ".join(w[i : i + 3])] += 1
    expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert list(map(tuple, got[["gram", "cnt"]].values)) == expect


def test_token_len_histogram_replay(spark):
    """Histogram buckets replay floor(ceil(nonspace/4)/64) per source."""
    import math

    rows = [
        (i, f"s{i % 2}", "x" * (50 + 97 * i) + " tail") for i in range(8)
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = (
        TX.token_len_histogram(sdf, bucket=64)
        .toPandas()
        .set_index(["source", "len_bucket"])
        .sort_index()
    )
    import collections
    exp = collections.defaultdict(list)
    for _, src, text in rows:
        est = math.ceil(len(text.replace(" ", "")) / 4)
        exp[(src, est // 64)].append(est)
    assert set(got.index) == set(exp)
    for key, ests in exp.items():
        row = got.loc[key]
        assert row.n_docs == len(ests)
        assert row.min_tok == min(ests) and row.max_tok == max(ests)


def test_quality_gate_replay(spark):
    """Composite gate: python replay of the quality/dup/word-count
    predicate matches per-source pass counts."""
    docs = [
        (0, "sA", "The quick brown fox jumps over the lazy dog " * 12),
        (1, "sA", "rep rep rep rep rep rep rep rep"),          # dupf too high
        (2, "sA", "one two"),                                  # too short
        (3, "sB", "Many distinct English words compose this sentence "
                  "carefully avoiding duplicates entirely today " * 10),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, source string, text string")
    got = TX.quality_gate(sdf).toPandas().set_index("source")

    def gate(text):
        w = text.split()
        n, u = len(w), len(set(w))
        alpha = sum(c.isalpha() for c in text if c.isascii()) / max(len(text), 1)
        q = min(n / 100.0, 1.0) * 0.4 + (u / n) * 0.3 + alpha * 0.3
        return q >= 0.5 and (n - u) / n <= 0.3 and 5 <= n <= 100_000

    import collections
    exp = collections.defaultdict(lambda: [0, 0])
    for _, src, t in docs:
        exp[src][0] += 1
        exp[src][1] += int(gate(t))
    for src, (nd, npass) in exp.items():
        assert got.loc[src].n_docs == nd
        assert got.loc[src].n_pass == npass


def test_pack_straddle_replay(spark):
    """Straddler = doc crossing a bin boundary, replayed from the
    cumulative offsets."""
    from tods_spark.operators import preprocessing as PP

    rows = [(i, f"s{i % 2}", 300 + 111 * i) for i in range(10)]
    sdf = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    packed = PP.pack_sequences(sdf, budget=1000).toPandas()
    import collections
    exp = collections.defaultdict(lambda: [0, 0])
    cum = collections.defaultdict(int)
    for i, src, nc in sorted(rows):
        start = cum[src]
        exp[src][0] += 1
        exp[src][1] += int(start // 1000 != (start + nc - 1) // 1000)
        cum[src] += nc
    for src, grp in packed.groupby("source"):
        stradd = sum(
            int(r.start_offset // 1000 != (r.start_offset + r.n_chars - 1) // 1000)
            for _, r in grp.iterrows()
        )
        assert [len(grp), stradd] == exp[src]


def test_lang_id_agreement_replay(spark):
    """Agreement rollup counts exact guess==metadata matches per source."""
    rows = [
        (1, "sA", "en", "the cat and the dog is of note to all"),
        (2, "sA", "fr", "le chat et la mer les vagues des champs"),
        (3, "sA", "zh", "wo men de peng you"),   # no marker -> und != zh
        (4, "sB", "en", "xyzzy plugh quux"),     # und != en
    ]
    sdf = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )
    agg = (
        TX.lang_id(sdf).select("source", "lang", "lang_guess")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("lang_guess") == F.col("lang")).cast("long"))
            .alias("n_match"),
        )
        .toPandas().set_index("source")
    )
    assert agg.loc["sA"].n_docs == 3 and agg.loc["sA"].n_match == 2
    assert agg.loc["sB"].n_docs == 1 and agg.loc["sB"].n_match == 0


def test_embedding_norm_fold_matches_numpy(spark):
    """The in-scan norm fold equals numpy's L2 norm bit-for-bit-ish."""
    pdf, M = _emb_frame(n=50, dim=16)
    nrm = F.sqrt(
        F.aggregate(
            "embedding", F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    got = (
        spark.createDataFrame(pdf).select("vec_id", nrm.alias("nrm"))
        .toPandas().set_index("vec_id").sort_index()
    )
    expect = np.sqrt((M.astype(np.float64) ** 2).sum(axis=1))
    np.testing.assert_allclose(got.nrm.values, expect, rtol=1e-12)


def test_source_minhash_overlap_identical_and_disjoint(spark):
    """Two sources with the SAME doc set estimate Jaccard 1.0 (every
    coordinate of the union-signature matches); sources over disjoint
    vocabularies estimate ~0."""
    rng = np.random.default_rng(7)
    docs_a = [" ".join(rng.choice(WORDS, 30)) for _ in range(10)]
    other = [w.upper() for w in WORDS]  # disjoint shingle space
    docs_c = [" ".join(rng.choice(other, 30)) for _ in range(10)]
    rows = (
        [("sA", t) for t in docs_a]
        + [("sB", t) for t in docs_a]  # identical corpus -> J = 1
        + [("sC", t) for t in docs_c]  # disjoint corpus -> J ~ 0
    )
    sdf = spark.createDataFrame(rows, "source string, text string")
    out = (
        DD.source_minhash_overlap(sdf, k=16)
        .toPandas()
        .set_index(["source_a", "source_b"])
    )
    assert out.loc[("sA", "sB")].est_jaccard == 1.0
    assert out.loc[("sA", "sC")].est_jaccard <= 0.25
    assert out.loc[("sB", "sC")].est_jaccard <= 0.25


def test_source_minhash_union_identity(spark):
    """The per-source signature equals the signature of the UNION of the
    source's docs computed as ONE concatenated-shingle-set document —
    the min-distributes-over-union identity the operator relies on."""
    rng = np.random.default_rng(13)
    docs = [" ".join(rng.choice(WORDS, 25)) for _ in range(6)]
    split = [("s0", t) for t in docs[:3]] + [("s1", t) for t in docs[3:]]
    sdf = spark.createDataFrame(split, "source string, text string")
    pair = DD.source_minhash_overlap(sdf, k=16).toPandas()
    # reference: python minhash over the union of each source's shingles
    import hashlib

    def h64(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    av, bv = DD.minhash_coeffs(16)

    def sig(texts):
        sh = set()
        for t in texts:
            w = t.split()
            sh |= {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
        hs = [h64(s) % DD.MINHASH_P for s in sh]
        return [
            min((h * av[i] + bv[i]) % DD.MINHASH_P for h in hs)
            for i in range(16)
        ]
    s0, s1 = sig(docs[:3]), sig(docs[3:])
    expect = sum(int(a == b) for a, b in zip(s0, s1))
    assert pair.iloc[0].n_match == expect


def test_semdedup_finds_planted_pair_within_cluster_only(spark):
    """The planted near-duplicate (vec n-1 ~ vec 0) lands in the same
    k-means cluster and is emitted with cosine ~1; every emitted pair is
    within one cluster and matches the numpy within-cluster ground truth."""
    pdf, M = _emb_frame(n=120, dim=32)
    df = spark.createDataFrame(pdf)
    out = SIM.semdedup_pairs(df, tau=0.9, nlist=4, train_n=64, iters=10)
    got = out.toPandas()
    planted = got[(got.id_a == 0) & (got.id_b == len(M) - 1)]
    assert len(planted) == 1 and planted.iloc[0].cosine > 0.95
    # ground truth: same assignment -> same pairs above tau
    cents = SIM.kmeans_codebook(df, nlist=4, train_n=64, iters=10)
    C = np.array([c for _, c in cents], dtype=np.float64)
    X = M.astype(np.float64)
    cos = (X @ C.T) / (
        np.linalg.norm(X, axis=1)[:, None] * np.linalg.norm(C, axis=1)[None]
    )
    asg = np.argmax(np.round(cos + 1e-9, 4), axis=1)
    expect = set()
    for i in range(len(X)):
        for j in range(i + 1, len(X)):
            if asg[i] != asg[j]:
                continue
            c = X[i] @ X[j] / (np.linalg.norm(X[i]) * np.linalg.norm(X[j]))
            if round(c + 1e-9, 4) >= 0.9:
                expect.add((i, j))
    assert {(r.id_a, r.id_b) for r in got.itertuples()} == expect
    assert (got.cluster_id.values == asg[got.id_a.values]).all()


def test_source_word_kl_matches_numpy(spark):
    """KL(p_src || p_corpus) golden vs a direct numpy computation; the
    identical-to-corpus-mixture source scores ~0 and KL is never negative
    ... within float tolerance."""
    rows = [
        ("s0", "alpha beta gamma alpha beta"),
        ("s0", "alpha gamma delta"),
        ("s1", "zeta zeta zeta eta theta"),
        ("s1", "zeta eta"),
        ("s2", "alpha beta gamma delta zeta eta theta"),
    ]
    sdf = spark.createDataFrame(rows, "source string, text string")
    out = TX.source_word_kl(sdf).toPandas().set_index("source")
    # numpy ground truth
    from collections import Counter
    per = {}
    corpus: Counter = Counter()
    for s, t in rows:
        c = per.setdefault(s, Counter())
        c.update(t.split())
        corpus.update(t.split())
    n_corpus = sum(corpus.values())
    for s, c in per.items():
        n = sum(c.values())
        kl = sum(
            (v / n) * np.log2((v / n) / (corpus[w] / n_corpus))
            for w, v in c.items()
        )
        assert abs(out.loc[s].kl_bits - kl) < 1e-9
        assert out.loc[s].n_words == n
        assert out.loc[s].n_distinct_words == len(c)
        assert out.loc[s].kl_bits > -1e-12


def test_dup_spans_recovers_planted_passage(spark):
    """A 10-word passage shared verbatim between two docs at different
    offsets must come back as exactly ONE maximal span: trigram shingles
    fully inside the passage (8 of them), a_start/b_start at the
    passage's word offset in each doc, span_words == the 10 shared words.
    Boundary trigrams straddling the passage edge differ by context and
    must not extend the span; all other words are unique so no other
    pair/diagonal appears."""
    passage = "the quick brown fox jumps over the1 lazy dog tonight".split()
    doc_a = [f"ua{i}" for i in range(5)] + passage + [f"va{i}" for i in range(4)]
    doc_b = [f"ub{i}" for i in range(2)] + passage + [f"vb{i}" for i in range(7)]
    df = spark.createDataFrame(
        [("a", " ".join(doc_a)), ("b", " ".join(doc_b))],
        "doc_id string, text string",
    )
    got = DD.dup_spans(df, n=3, min_span=4).toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    assert (r.doc_a, r.doc_b) == ("a", "b")
    assert (r.a_start, r.b_start) == (5, 2)
    assert r.span_len == 8 and r.span_words == 10


def test_dup_spans_splits_interrupted_copy(spark):
    """An edited copy (one word changed mid-passage) must split into TWO
    spans, one per untouched side — the 'localize the boilerplate'
    semantics; and a span shorter than min_span is suppressed."""
    left = "alpha beta gamma delta epsilon zeta".split()     # 6 words
    right = "eta theta iota kappa lambda mu nu".split()       # 7 words
    doc_a = left + ["ORIG"] + right
    doc_b = ["pre0", "pre1"] + left + ["EDIT"] + right + ["post0"]
    df = spark.createDataFrame(
        [("a", " ".join(doc_a)), ("b", " ".join(doc_b))],
        "doc_id string, text string",
    )
    got = (
        DD.dup_spans(df, n=3, min_span=4)
        .toPandas()
        .sort_values("a_start")
        .reset_index(drop=True)
    )
    # left side: 6 words -> 4 interior trigrams (>= min_span); right side:
    # 7 words -> 5 trigrams
    assert len(got) == 2
    assert list(got.span_len) == [4, 5]
    assert list(got.a_start) == [0, 7]
    assert list(got.b_start) == [2, 9]
    # shrink the right side's overlap below min_span and it disappears
    got2 = DD.dup_spans(df, n=3, min_span=6).toPandas()
    assert len(got2) == 0


def test_ann_ivf_recall_bound_vs_bruteforce(spark):
    """Recall bounds for the trained (md5-sampled) IVF codebook vs exact
    brute force. Two regimes, because IVF's contract is data-dependent:

    * CLUSTERED data (IVF's actual use case — real embedding corpora are
      clustered, that's why the codebook exists): 8 planted Gaussian
      blobs; a query inside one blob must recover the full exact top-5
      probing just nprobe=2 of 8 lists.
    * the UNIFORM-random testdata embeddings (worst case for any
      partitioned index — neighbors scatter across lists; measured
      recall at nprobe=2 is 2/5 and that is EXPECTED, not a bug):
      recall must be monotone non-decreasing in nprobe, the formal
      guarantee that probing wider never loses candidates."""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 16)) * 4.0
    rows = [
        (int(c * 25 + i), [float(x) for x in centers[c] + rng.normal(size=16)])
        for c in range(8)
        for i in range(25)
    ]
    blobs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    q = [float(x) for x in centers[3]]
    exact = list(SIM.cosine_topk_bruteforce(blobs, q, k=5).toPandas().vec_id)
    ivf = list(
        SIM.ann_topk_ivf(blobs, q, k=5, nlist=8, nprobe=2).toPandas().vec_id
    )
    assert ivf == exact, f"clustered recall {len(set(ivf) & set(exact))}/5"

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qu = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    ex = set(SIM.cosine_topk_bruteforce(emb, qu, k=5).toPandas().vec_id)
    recalls = [
        len(ex & set(SIM.ann_topk_ivf(emb, qu, k=5, nlist=8, nprobe=p)
                     .toPandas().vec_id))
        for p in (2, 4, 8)
    ]
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 5  # nprobe == nlist is exhaustive == exact
