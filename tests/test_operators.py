"""Extension operator tests: dedup, similarity, text, multimodal,
streaming — on the driver's sf0.001 testdata."""

import numpy as np
import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ------------------------------------------------------------------- text

def test_token_counts(docs):
    from baloo_spark.operators.text import token_counts
    out = token_counts(docs).limit(5).collect()
    for r in out:
        assert r["n_tokens"] > 0
        assert r["n_subtokens"] >= r["n_tokens"] - 1


def test_quality_scores_bounded(docs):
    from baloo_spark.operators.text import quality_scores
    rows = quality_scores(docs).collect()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert 0.0 <= r["stopword_ratio"] <= 1.0


def test_language_id_deterministic(docs):
    from baloo_spark.operators.text import language_id
    a = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    b = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert a == b
    assert set(a.values()) <= {"en", "de", "fr", "es", "und"}


def test_fingerprints_stable_under_whitespace(spark):
    from baloo_spark.operators.text import fingerprints
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        "doc_id LONG, text STRING")
    fps = {r["doc_id"]: r["fingerprint"] for r in fingerprints(df).collect()}
    assert fps[1] == fps[2]  # case+whitespace normalized
    assert fps[1] != fps[3]


# ------------------------------------------------------------------ dedup

def test_exact_duplicates(spark):
    from baloo_spark.operators.dedup import exact_duplicates
    df = spark.createDataFrame(
        [(1, "same text"), (2, "Same  Text"), (3, "unique")],
        "doc_id LONG, text STRING")
    out = {r["keep_id"]: r["n_copies"] for r in exact_duplicates(df).collect()}
    assert out == {1: 2, 3: 1}


def test_word_shingles_token_array_drops_empty_tokens(spark):
    """A raw split(text, ' ') array keeps an empty token at every
    doubled space; the ArrayType path must shingle it exactly like
    the text itself (empty tokens dropped on both paths)."""
    from pyspark.sql import functions as F
    from baloo_spark.operators.dedup import _shingled
    df = spark.createDataFrame(
        [(1, "the  quick brown   fox jumps"), (2, " a b  c d ")],
        "doc_id LONG, text STRING")
    arr = df.select("doc_id", F.split("text", " ").alias("toks"))

    def sh(frame, col):
        return {r["doc_id"]: sorted(r["sh"]) for r in
                _shingled(frame, col, "doc_id", 3, "word").collect()}

    want = sh(df, "text")
    assert want[1] == ["brown fox jumps", "quick brown fox",
                       "the quick brown"]
    assert sh(arr, "toks") == want


def test_minhash_approximates_jaccard(spark):
    from baloo_spark.operators.dedup import (minhash_lsh_pairs,
                                             ngram_jaccard_pairs)
    rows = [(i, f"the quick brown fox jumps over the lazy dog number {i}")
            for i in range(10)]
    rows += [(100, "completely different content entirely unrelated words")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    mh = {(r["id_a"], r["id_b"]): r["jaccard"]
          for r in minhash_lsh_pairs(df, threshold=0.6, k=64, bands=16).collect()}
    ex = {(r["id_a"], r["id_b"]): r["jaccard"]
          for r in ngram_jaccard_pairs(df, threshold=0.6,
                                       shingle="word").collect()}
    # the near-identical docs must be found; doc 100 pairs must not
    assert len(mh) > 0
    assert all(100 not in pair for pair in mh)
    # verified jaccard values are exact -> subset of the exact pairs
    for pair, j in mh.items():
        assert pair in ex and abs(ex[pair] - j) < 1e-6


def test_simhash_finds_near_identical(spark):
    from baloo_spark.operators.dedup import simhash_near_pairs
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta iota"),
         (3, "one two three four five six seven eight")],
        "doc_id LONG, text STRING")
    pairs = {(r["id_a"], r["id_b"]) for r in
             simhash_near_pairs(df, radius=16).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_embedding_near_pairs_exact_block_off(spark):
    from baloo_spark.operators.dedup import embedding_near_pairs
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0]), (3, [0.0, 1.0, 0.0])],
        "vec_id LONG, embedding ARRAY<FLOAT>")
    out = {(r["id_a"], r["id_b"]) for r in
           embedding_near_pairs(df, threshold=0.95, block=False).collect()}
    assert out == {(1, 2)}


# -------------------------------------------------------------- similarity

def test_brute_force_topk_exact(spark, emb):
    from baloo_spark.operators.similarity import brute_force_topk
    q = emb.filter("vec_id < 3")
    c = emb.filter("vec_id >= 3")
    out = brute_force_topk(q, c, k=5).collect()
    assert len(out) == 15
    # ranks are 1..5 per query, cosine non-increasing
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"]))
    for q_id, rows in per_q.items():
        rows.sort()
        assert [r[0] for r in rows] == [1, 2, 3, 4, 5]
        cos = [r[1] for r in rows]
        assert cos == sorted(cos, reverse=True)


def test_ivf_topk_recall_and_shape(spark, emb):
    from baloo_spark.operators.similarity import brute_force_topk, ivf_topk
    q = emb.filter("vec_id < 5")
    c = emb.filter("vec_id >= 5")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(q, c, k=10).collect()}
    approx = [r for r in ivf_topk(q, c, k=10, n_centroids=8,
                                  n_probe=4).collect()]
    assert len(approx) == 50  # 5 queries x k
    got = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # the testdata embeddings are near-uniform random (top-5 neighbors
    # share the query's label 4/50 times), so IVF recall is bounded by
    # the probed corpus fraction — demand clearly above the 4/8-cell
    # random baseline; everything is deterministic (trained centroids,
    # hash-ordered sample), so this is a fixed number, not a flake
    assert len(exact & got) / len(exact) >= 0.5


def test_ivf_topk_recall_on_clustered_data(spark):
    # the claim that matters at scale: when the corpus HAS cluster
    # structure, trained IVF centroids recover >= 0.9 of the exact
    # top-5 while probing 4/16 cells
    import numpy as np
    from baloo_spark.operators.similarity import brute_force_topk, ivf_topk
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(10, 32))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(400):
        c = centers[i % 10]
        v = c + 0.15 * rng.normal(size=32)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>") \
        .repartition(8)
    q = df.filter("vec_id < 10")
    c = df.filter("vec_id >= 10")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(q, c, k=5).collect()}
    got = {(r["query_id"], r["neighbor_id"])
           for r in ivf_topk(q, c, k=5, n_centroids=16, n_probe=4).collect()}
    assert len(exact & got) / len(exact) >= 0.9


def test_train_centroids_deterministic_and_balanced(spark, emb):
    from baloo_spark.operators.similarity import train_centroids
    a = train_centroids(emb, 8, sample_size=256, iters=2).collect()
    b = train_centroids(emb, 8, sample_size=256, iters=2).collect()
    assert sorted(map(tuple, ((r["cent_id"], tuple(r["cent"])) for r in a))) \
        == sorted(map(tuple, ((r["cent_id"], tuple(r["cent"])) for r in b)))
    assert len(a) == 8
    assert all(len(r["cent"]) == 64 for r in a)


def test_lsh_topk_recall(spark, emb):
    from baloo_spark.operators.similarity import brute_force_topk, lsh_topk
    q = emb.filter("vec_id < 5")
    c = emb.filter("vec_id >= 5")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(q, c, k=10).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in lsh_topk(q, c, k=10, planes=4, probe_radius=1).collect()}
    # approximate: just demand nonzero overlap and correct shape
    assert len(approx) > 0
    assert len(exact & approx) > 0


# -------------------------------------------------------------- multimodal

def test_media_table_and_features(docs):
    from baloo_spark.operators.multimodal import (extract_features,
                                                  media_stats, to_media_table)
    m = to_media_table(docs.limit(20))
    feats = extract_features(m).collect()
    assert len(feats) == 20
    for r in feats:
        assert len(r["feature"]) == 16
        assert all(0.0 <= v <= 1.0 for v in r["feature"])
        assert r["n_bytes"] > 0
    stats = media_stats(m).collect()
    assert stats[0]["n_items"] == 20


def test_media_stats_prunes_payload(docs):
    from baloo_spark.operators.multimodal import media_stats, to_media_table
    m = to_media_table(docs)
    plan = media_stats(m)._jdf.queryExecution().executedPlan().toString()
    # metadata-only agg must not read the payload column
    assert "payload" not in plan.split("ReadSchema")[-1][:400]


def test_decode_null_payload_raises():
    from baloo_spark.operators.multimodal import _decode_stub
    with pytest.raises(NotImplementedError):
        _decode_stub(None)


# --------------------------------------------------------------- streaming

def test_windowed_agg_stream_matches_batch(spark, tmp_path):
    from baloo_spark.streaming.events import (load_events, run_stream_to_memory,
                                              windowed_agg_batch,
                                              windowed_agg_stream)
    ev = load_events(spark, SF)
    # write micros-normalized events for the stream source
    path = str(tmp_path / "events_stream")
    ev.write.parquet(path)
    batch = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
             for r in windowed_agg_batch(ev).collect()}
    stream = windowed_agg_stream(spark, path)
    got = run_stream_to_memory(spark, stream, "t_win",
                               output_mode="complete")
    out = {(r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
           for r in got.collect()}
    assert out == batch


def test_sessionize(spark):
    from baloo_spark.streaming.events import sessionize_batch
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 10, "a", 1.0, ""),
        (2, base + dt.timedelta(minutes=5), 10, "a", 1.0, ""),
        (3, base + dt.timedelta(hours=2), 10, "a", 1.0, ""),
        (4, base, 20, "a", 1.0, ""),
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
              "value DOUBLE, props STRING")
    out = sessionize_batch(df, gap_sec=1800).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(per_user[10]) == [1, 2]  # 2-event session + 1 late event
    assert per_user[20] == [1]


def test_text_profile_matches_joined_families(spark):
    # the fused single-projection profile must equal the 4-way join of
    # the individual family outputs (same metrics, one scan, no joins)
    from baloo_spark.operators.text import (fingerprints, language_id,
                                            quality_scores, text_profile,
                                            token_counts)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fused = text_profile(docs).toPandas().sort_values("doc_id") \
        .reset_index(drop=True)
    joined = (quality_scores(docs)
              .join(language_id(docs), "doc_id")
              .join(token_counts(docs).select("doc_id", "n_subtokens",
                                              "n_chars_measured"), "doc_id")
              .join(fingerprints(docs), "doc_id")) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    assert sorted(fused.columns) == sorted(joined.columns)
    for c in fused.columns:
        assert fused[c].tolist() == joined[c].tolist(), c


def test_blas_topk_matches_jvm_topk(spark):
    # the BLAS (mapInPandas gemm) brute-force path must return the
    # same neighbors as the JVM-expression path, same contract
    import numpy as np
    from baloo_spark.operators.similarity import (brute_force_topk,
                                                  brute_force_topk_blas)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 5")
    c = emb.filter("vec_id >= 5")
    jvm = brute_force_topk(q, c, k=5).collect()
    blas = brute_force_topk_blas(q, c, k=5).collect()
    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"]) for r in jvm}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"]) for r in blas}
    assert a.keys() == b.keys()
    for key in a:
        assert a[key][0] == b[key][0], (key, a[key], b[key])
        assert abs(a[key][1] - b[key][1]) <= 2e-6


def test_resize_images_contract(spark, docs):
    from baloo_spark.operators.multimodal import resize_images, to_media_table
    media = to_media_table(docs.limit(20))
    out = resize_images(media, 8, 8)
    rows = out.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["payload"]) == 8 * 8 * 3  # RGB byte contract
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 8
        assert r["meta"]["n_bytes"] == 192
    # deterministic kernel: same input -> same bytes
    again = {r["media_id"]: bytes(r["payload"]) for r in
             resize_images(media, 8, 8).collect()}
    assert all(bytes(r["payload"]) == again[r["media_id"]] for r in rows)
    # composes: resized table still answers metadata stats
    from baloo_spark.operators.multimodal import media_stats
    st = media_stats(out).collect()
    assert st[0]["avg_width"] == 8.0


def test_sample_frames_one_to_many(spark, docs):
    from baloo_spark.operators.multimodal import sample_frames, to_media_table
    media = to_media_table(docs.limit(10))
    out = sample_frames(media, every_n=2, frame_bytes=64).collect()
    per = {}
    for r in out:
        per.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert len(per) == 10  # every media yields >= 1 frame row
    for idxs in per.values():
        assert idxs == sorted(idxs)
        assert all(i % 2 == 0 for i in idxs)


def test_dedup_clusters_transitive(spark):
    # (1,2)+(2,3) must cluster {1,2,3} even without a (1,3) pair
    from baloo_spark.operators.dedup import dedup_clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 8)], "id_a LONG, id_b LONG")
    got = {r["node"]: r["cluster"] for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8, 9: 8}


def test_drop_near_duplicates_end_to_end(spark):
    from baloo_spark.operators.dedup import (drop_near_duplicates,
                                             minhash_lsh_pairs)
    rows = [(i, "the quick brown fox jumps over the lazy dog every day") for i in range(4)]
    rows += [(10, "completely different content entirely unrelated words"),
             (11, "another unique document with its own special phrasing")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    pairs = minhash_lsh_pairs(df, threshold=0.8)
    out = sorted(r["doc_id"] for r in drop_near_duplicates(df, pairs).collect())
    assert out == [0, 10, 11]  # one survivor of the clone cluster + uniques


def test_dedup_clusters_long_chain(spark):
    # a 12-node chain needs multiple propagation rounds — exercises
    # the iteration + lineage-truncation path
    from baloo_spark.operators.dedup import dedup_clusters
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a LONG, id_b LONG")
    got = {r["node"]: r["cluster"] for r in dedup_clusters(pairs).collect()}
    assert set(got) == set(range(13))
    assert set(got.values()) == {0}


def _cc_graph(seed):
    """Seeded pair graph mixing every shape dedup_clusters meets:
    stars, chains of diameter <= 15, cycles, self-loops, duplicate
    and reversed edges and NULL endpoints, over shuffled ids."""
    rng = np.random.default_rng(seed)
    ids = iter(rng.permutation(10_000).tolist())
    edges = []
    for _ in range(4):                                   # stars
        c = next(ids)
        for _ in range(int(rng.integers(1, 7))):
            e = (c, next(ids))
            edges.append(e if rng.random() < 0.5 else e[::-1])
    for _ in range(4):                                   # chains
        path = [next(ids) for _ in range(int(rng.integers(2, 16)))]
        edges += list(zip(path, path[1:]))
    for _ in range(3):                                   # cycles
        ring = [next(ids) for _ in range(int(rng.integers(3, 9)))]
        edges += list(zip(ring, ring[1:] + ring[:1]))
    x = next(ids)
    edges += [(x, x), (edges[0][0], edges[0][0])]        # self-loops
    for k in rng.choice(len(edges), 6, replace=False):   # dup + reversed
        edges += [edges[k], edges[k][::-1]]
    edges += [(next(ids), None), (None, edges[1][1])]    # NULL endpoints
    return [edges[k] for k in rng.permutation(len(edges))]


@pytest.mark.parametrize("seed", [0, 1])
def test_dedup_clusters_driver_and_loop_agree(spark, monkeypatch, seed):
    """The driver pass and the distributed loop return the same rows
    (exceptAll both ways), NULL endpoints and an empty graph included.
    A budget of -1 edges forces the loop even for the empty graph."""
    import baloo_spark.operators.dedup as D
    graphs = [_cc_graph(seed)] + ([[]] if seed == 0 else [])
    for edges in graphs:
        pairs = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
        fast = D.dedup_clusters(pairs)
        with monkeypatch.context() as m:
            m.setattr(D, "_CC_DRIVER_MAX_EDGES", -1)
            slow = D.dedup_clusters(pairs)
        assert fast.schema == slow.schema
        assert fast.exceptAll(slow).count() == 0
        assert slow.exceptAll(fast).count() == 0


def test_drop_near_duplicates_deep_chain(spark):
    """A 31-node chain deeper than max_iters=20, ids out of path order:
    the driver pass still keeps only the component minimum."""
    from baloo_spark.operators.dedup import drop_near_duplicates
    docs = spark.createDataFrame([(i,) for i in range(31)], "doc_id LONG")
    path = [0] + list(range(30, 0, -1))
    pairs = spark.createDataFrame(list(zip(path, path[1:])),
                                  "id_a LONG, id_b LONG")
    got = sorted(r["doc_id"] for r in
                 drop_near_duplicates(docs, pairs).collect())
    assert got == [0]


def test_dedup_clusters_loop_raises_unconverged(spark, monkeypatch):
    """The distributed loop must not return labels that were still
    changing in its last round: a 31-node chain needs 30 rounds."""
    import baloo_spark.operators.dedup as D
    monkeypatch.setattr(D, "_CC_DRIVER_MAX_EDGES", 0)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(30)],
                                  "id_a LONG, id_b LONG")
    with pytest.raises(RuntimeError, match="max_iters=20"):
        D.dedup_clusters(pairs, max_iters=20)


def test_sessionize_stream_matches_batch(spark, tmp_path):
    # native session_window streaming face == lag+cumsum batch face
    # (complete output mode so open sessions emit too)
    from baloo_spark.streaming.events import (load_events, run_stream_to_memory,
                                              sessionize_batch,
                                              sessionize_stream)
    ev = load_events(spark, "/root/testdata/sf0.001").limit(2000)
    path = str(tmp_path / "sess_src")
    ev.write.parquet(path)
    batch = {(r["user_id"], r["session_start"]):
             (r["session_end"], r["n_events"], r["sum_value"])
             for r in sessionize_batch(ev, gap_sec=1800).collect()}
    stream = sessionize_stream(spark, path, gap_sec=1800)
    got = run_stream_to_memory(spark, stream, "t_sess",
                               output_mode="complete")
    out = {(r["user_id"], r["session_start"]):
           (r["session_end"], r["n_events"], r["sum_value"])
           for r in got.collect()}
    assert out == batch


def test_corpus_ngrams_matches_pandas(spark):
    from collections import Counter

    import pandas as pd
    from baloo_spark.operators.text import corpus_ngrams
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    got = corpus_ngrams(docs, n=2, top_k=20).toPandas()
    # pandas oracle: same tokenization (whitespace, lowercased)
    pdf = docs.toPandas()
    tc, dc = Counter(), Counter()
    for t in pdf["text"]:
        toks = [w.lower() for w in t.split()]
        grams = [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
        tc.update(grams)
        dc.update(set(grams))
    want = sorted(tc.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert [(r["ngram"], r["term_count"]) for _, r in got.iterrows()] == want
    for _, r in got.iterrows():
        assert r["doc_count"] == dc[r["ngram"]]


def test_vocabulary_stats_matches_pandas(spark):
    from collections import Counter

    from baloo_spark.operators.text import vocabulary_stats
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("text")
    got = vocabulary_stats(docs).toPandas().iloc[0]
    c = Counter()
    for t in docs.toPandas()["text"]:
        c.update(w.lower() for w in t.split())
    assert got["total_tokens"] == sum(c.values())
    assert got["distinct_tokens"] == len(c)
    assert got["hapax_count"] == sum(1 for v in c.values() if v == 1)
    assert abs(got["type_token_ratio"]
               - round(len(c) / sum(c.values()), 6)) < 1e-9


def test_corpus_ngrams_plan_is_agg_plus_topk(spark):
    import io
    from contextlib import redirect_stdout

    from baloo_spark.operators.text import corpus_ngrams
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    buf = io.StringIO()
    with redirect_stdout(buf):
        corpus_ngrams(docs, n=1, top_k=10).explain("formatted")
    plan = buf.getvalue()
    # top-k must not be a full global sort, and the count must
    # map-side combine (paired HashAggregates / ObjectHashAggregates)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


def test_repetition_metrics_matches_pandas(spark):
    from collections import Counter

    from baloo_spark.operators.text import repetition_metrics
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    got = (repetition_metrics(docs).toPandas()
           .set_index("doc_id").sort_index())
    pdf = docs.toPandas().set_index("doc_id").sort_index()
    for doc_id, row in pdf.iterrows():
        t = row["text"]
        lines = [ln.strip() for ln in t.split("\n") if ln.strip() != ""]
        toks = t.split()
        g5 = [" ".join(toks[i:i + 5]) for i in range(len(toks) - 4)]
        g2 = [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
        r = got.loc[doc_id]
        assert r["n_lines"] == len(lines)
        if lines:
            assert abs(r["dup_line_frac"]
                       - round((len(lines) - len(set(lines))) / len(lines),
                               4)) < 1e-9
            lc = sum(len(x) for x in lines)
            dlc = sum(len(x) for x in set(lines))
            assert abs(r["dup_line_char_frac"]
                       - round((lc - dlc) / lc, 4)) < 1e-9
        gc = sum(len(x) for x in g5)
        if gc:
            dgc = sum(len(x) for x in set(g5))
            assert abs(r["dup_5gram_char_frac"]
                       - round((gc - dgc) / gc, 4)) < 1e-9
        if g2:
            cnt = Counter(g2)
            best = max(cnt.items(), key=lambda kv: (kv[1], [-ord(c) for c in kv[0]]))
            # tie-break: max count, then lexicographically smallest
            top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            assert abs(r["top_2gram_char_frac"]
                       - round(top[1] * len(top[0]) / len(t), 4)) < 1e-9


def test_repetition_metrics_synthetic_and_empty(spark):
    import pandas as pd
    from baloo_spark.operators.text import repetition_metrics
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["spam spam spam spam spam spam",
                 "line a\nline a\nline b",
                 ""]}))
    got = (repetition_metrics(docs).toPandas()
           .set_index("doc_id").sort_index())
    # doc 1: every 5-gram is "spam spam spam spam spam" (2 occurrences)
    assert got.loc[1, "dup_5gram_char_frac"] == 0.5
    # top bigram "spam spam" occurs 5x, 9 chars, text is 29 chars
    assert got.loc[1, "top_2gram_char_frac"] == round(45 / 29, 4)
    assert got.loc[2, "n_lines"] == 3
    assert got.loc[2, "dup_line_frac"] == round(1 / 3, 4)
    # empty doc: all zeros, no NULLs
    assert (got.loc[3] == 0).all()


def test_repetition_metrics_plan_single_scan_no_shuffle(spark):
    import io
    from contextlib import redirect_stdout

    from baloo_spark.operators.text import repetition_metrics
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    buf = io.StringIO()
    with redirect_stdout(buf):
        repetition_metrics(docs).explain("formatted")
    plan = buf.getvalue()
    # pure per-row projection: one scan, zero exchanges. (The leaf may
    # be InMemoryTableScan instead of the parquet scan when another
    # test module has cached this table — CacheManager substitutes
    # cached fragments by plan equality.)
    # spread() (plans/layout.py) may prepend ONE RoundRobinPartitioning
    # exchange to balance a single-row-group scan; the invariant that
    # matters is NO KEYED exchange (hash/range) — the operator's own
    # logic moves no data by key.
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Scan parquet" in plan or "InMemoryTableScan" in plan
    assert "Generate" not in plan  # no explode either: row-for-row


def test_contamination_check_matches_pandas(spark):
    import pandas as pd
    from baloo_spark.operators.text import contamination_check
    train = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["the quick brown fox jumps over the lazy dog",
                 "completely unrelated content with different words entirely",
                 "short"]}))
    bench = spark.createDataFrame(pd.DataFrame({
        "text": ["quick brown fox jumps over the lazy"]}))
    got = (contamination_check(train, bench, n=5, threshold=0.3)
           .toPandas().set_index("doc_id").sort_index())
    # doc 1 has 5 distinct 5-grams; bench contributes 3 of them
    # (grams fully inside the overlap window)
    assert got.loc[1, "n_grams"] == 5
    assert got.loc[1, "n_overlap"] == 3
    assert bool(got.loc[1, "is_contaminated"])
    assert got.loc[2, "n_overlap"] == 0
    assert not bool(got.loc[2, "is_contaminated"])
    # doc shorter than n words still yields a row with zero grams
    assert got.loc[3, "n_grams"] == 0
    assert not bool(got.loc[3, "is_contaminated"])


def test_contamination_check_normalizes_whitespace_and_case(spark):
    import pandas as pd
    from baloo_spark.operators.text import contamination_check
    train = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1],
        "text": ["The  QUICK\nbrown   Fox jumps over"]}))
    bench = spark.createDataFrame(pd.DataFrame({
        "text": ["the quick brown fox jumps over"]}))
    got = contamination_check(train, bench, n=5).toPandas().iloc[0]
    # cosmetic edits (case, whitespace, newlines) must not hide overlap
    assert got["n_overlap"] == got["n_grams"] == 2


def test_contamination_check_broadcasts_benchmark(spark):
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F
    from baloo_spark.operators.text import contamination_check
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    buf = io.StringIO()
    with redirect_stdout(buf):
        contamination_check(docs, bench).explain("formatted")
    plan = buf.getvalue()
    # the corpus side must probe a broadcast of the benchmark grams —
    # never shuffle the 100 TB side for the join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_redact_patterns_and_counts(spark):
    import pandas as pd
    from baloo_spark.operators.text import pii_redact
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["mail me at jo.doe+x@example.co.uk or call 555-123-4567",
                 "server at 10.0.0.1 paid with 4111 1111 1111 1111",
                 "nothing sensitive here"]}))
    got = pii_redact(docs).toPandas().set_index("doc_id").sort_index()
    assert "<EMAIL>" in got.loc[1, "text"]
    assert "jo.doe" not in got.loc[1, "text"]
    assert "<PHONE>" in got.loc[1, "text"]
    assert got.loc[1, "n_email"] == 1 and got.loc[1, "n_phone"] == 1
    assert "<IPV4>" in got.loc[2, "text"]
    assert "<CARD>" in got.loc[2, "text"]
    assert "4111" not in got.loc[2, "text"]
    assert got.loc[2, "n_pii_total"] == 2
    assert got.loc[3, "text"] == "nothing sensitive here"
    assert got.loc[3, "n_pii_total"] == 0


def test_pii_redact_plan_no_shuffle_no_python(spark):
    import io
    from contextlib import redirect_stdout

    from baloo_spark.operators.text import pii_redact
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    buf = io.StringIO()
    with redirect_stdout(buf):
        pii_redact(docs).explain("formatted")
    plan = buf.getvalue()
    # spread() (plans/layout.py) may prepend ONE RoundRobinPartitioning
    # exchange to balance a single-row-group scan; the invariant that
    # matters is NO KEYED exchange (hash/range) — the operator's own
    # logic moves no data by key.
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_normalize_and_quantize_embeddings(spark, emb):
    import numpy as np
    from baloo_spark.operators.similarity import (dequantize_int8,
                                                  normalize_embeddings,
                                                  quantize_int8)
    norm = normalize_embeddings(emb.limit(50))
    rows = norm.collect()
    for r in rows:
        n = np.linalg.norm(r["embedding"])
        assert abs(n - 1.0) < 1e-3  # float32 components
    q = quantize_int8(emb.limit(50))
    d = {r["vec_id"]: r for r in dequantize_int8(q, out_col="back")
         .collect()}
    orig = {r["vec_id"]: r["embedding"] for r in emb.limit(50).collect()}
    for vid, r in d.items():
        a = np.array(orig[vid], dtype=np.float64)
        b = np.array(r["back"], dtype=np.float64)
        # per-component error bounded by half a quantization step
        assert np.abs(a - b).max() <= r["q_scale"] * 0.5 + 1e-6
        # storage type really is tinyint
        assert all(-127 <= x <= 127 for x in r["q_vec"])


def test_quantized_topk_recall(spark, emb):
    from baloo_spark.operators.similarity import (brute_force_topk,
                                                  quantized_topk)
    q = emb.filter("vec_id < 5")
    c = emb.filter("vec_id >= 5")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(q, c, k=10).collect()}
    quant = {(r["query_id"], r["neighbor_id"])
             for r in quantized_topk(q, c, k=10).collect()}
    # int8 keeps ranking nearly intact
    assert len(exact & quant) / len(exact) >= 0.9


def test_boilerplate_scores_heuristics(spark):
    from baloo_spark.operators.text import boilerplate_scores
    prose = ("This is a well formed paragraph with long sentences. "
             "It continues for a while and ends with punctuation.")
    menu = "Home\nAbout\nContact\nLogin\nRegister\nTerms"
    df = spark.createDataFrame(
        [(1, prose), (2, menu), (3, "")],
        "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in boilerplate_scores(df).collect()}
    assert got[2]["boilerplate_score"] > got[1]["boilerplate_score"]
    assert got[2]["short_line_frac"] == 1.0
    assert got[2]["stop_end_frac"] == 1.0
    assert got[1]["n_lines"] == 1
    assert got[3]["n_lines"] == 0
    assert got[3]["boilerplate_score"] is None
    # stream-safe: pure projection (spread no-ops on streams)
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        boilerplate_scores(df).explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan and "hashpartitioning" not in plan


# -------------------------------------------- r4 scale-hazard regressions

def test_hyperplane_sig_fused_matches_per_plane(spark, emb):
    """The fused single-fold signature must be bit-identical to the
    original per-plane aggregate form (same addition order per plane)."""
    from pyspark.sql import functions as F

    from baloo_spark.operators.similarity import hyperplane_sig
    planes = 8
    bits = []
    for p in range(planes):
        dot = F.expr(
            f"aggregate(zip_with(embedding, "
            f"sequence(0, size(embedding) - 1), "
            f"(v, i) -> CAST(v AS DOUBLE) * "
            f"(CAST(xxhash64(i, {p + 17}) % 2 AS DOUBLE) * 2 + 1)), "
            f"0D, (acc, x) -> acc + x)")
        bits.append(F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    ref = bits[0]
    for b in bits[1:]:
        ref = ref + b
    out = emb.select(hyperplane_sig("embedding", planes).alias("fused"),
                     ref.cast("int").alias("per_plane")).collect()
    assert len(out) > 0
    assert all(r["fused"] == r["per_plane"] for r in out)


def test_embedding_near_pairs_blocked_streams_pairs(spark):
    """Blocked path: positive scaling preserves every hyperplane sign,
    so a scaled copy is a guaranteed bucket collision; the negated
    vector flips every bit and never becomes a candidate. Also assert
    the plan is a JOIN on the signature, not a collect_list bucket
    row (the 2 GB-row hazard)."""
    import io
    from contextlib import redirect_stdout

    from baloo_spark.operators.dedup import embedding_near_pairs
    df = spark.createDataFrame(
        [(1, [0.5, -0.3, 0.8, 0.1]),
         (2, [0.55, -0.33, 0.88, 0.11]),
         (3, [-0.5, 0.3, -0.8, -0.1])],
        "vec_id LONG, embedding ARRAY<FLOAT>")
    out = embedding_near_pairs(df, threshold=0.99, block=True)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(1, 2)}
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "collect_list" not in plan
    assert "Join" in plan


def test_drop_near_duplicates_high_dup_rate(spark):
    """80% of the corpus is near-duplicate losers — the regime where a
    forced broadcast of the loser set OOMs at scale. The anti-join must
    carry NO broadcast hint (AQE picks the strategy) and still return
    exactly the cluster minima plus untouched singletons."""
    from pyspark.sql import functions as F

    from baloo_spark.operators.dedup import drop_near_duplicates
    docs = spark.createDataFrame([(i,) for i in range(50)],
                                 "doc_id LONG")
    # 10 star clusters of 5 consecutive ids -> 40 losers / 50 docs
    pairs = spark.createDataFrame(
        [(5 * k, 5 * k + j) for k in range(10) for j in range(1, 5)],
        "id_a LONG, id_b LONG")
    out = drop_near_duplicates(docs, pairs)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    assert "UnresolvedHint" not in analyzed
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == [5 * k for k in range(10)]


def test_drop_near_duplicates_build_jobs(spark):
    """The 10-star graph above is solved on the driver: building the
    result takes at most 4 Spark jobs (min-label propagation took 28)."""
    from baloo_spark.operators.dedup import drop_near_duplicates
    docs = spark.createDataFrame([(i,) for i in range(50)], "doc_id LONG")
    pairs = spark.createDataFrame(
        [(5 * k, 5 * k + j) for k in range(10) for j in range(1, 5)],
        "id_a LONG, id_b LONG")
    sc = spark.sparkContext
    sc.setJobGroup("dedup-build-jobs", "drop_near_duplicates build")
    try:
        out = drop_near_duplicates(docs, pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("dedup-build-jobs")
    assert len(jobs) <= 4, jobs
    assert sorted(r["doc_id"] for r in out.collect()) == \
        [5 * k for k in range(10)]


def test_ivf_cell_faces_agree(spark, emb, monkeypatch):
    """IVF's literal-expression cell assignment (r4: one array fold
    per row, no k-way fan-out) must return exactly what the
    broadcast-join + window face returns."""
    import baloo_spark.operators.similarity as sim
    q = emb.filter("vec_id < 5")
    c = emb.filter("vec_id >= 5")
    cents = sim.train_centroids(c, 8)
    a = sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in
               sim.ivf_topk(q, c, k=10, centroids=cents,
                            n_probe=3).collect())
    monkeypatch.setattr(sim, "MAX_LITERAL_VALUES", 1)  # force join face
    b = sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in
               sim.ivf_topk(q, c, k=10, centroids=cents,
                            n_probe=3).collect())
    assert a == b


def test_clean_text_matches_python_reference(spark):
    import unicodedata

    from baloo_spark.operators.text import clean_text
    rows = [
        (1, "plain words"),
        (2, "ctrl\x01\x02 bytes\x7f here"),
        (3, "double  spaces   and \t tab"),
        (4, "combining: café vs café"),
        (5, None),
        (6, "  edge trim  "),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: (r["text"], r["n_chars_raw"], r["n_chars_clean"])
           for r in clean_text(df, unicode_form="NFC").collect()}

    def ref(t):
        import re
        raw = len(t or "")
        s = re.sub("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "", t or "")
        s = re.sub("  +", " ", s).strip()
        s = unicodedata.normalize("NFC", s)
        return s, raw, len(s)

    for i, t in rows:
        assert got[i] == ref(t), i
    # NFC folds the combining sequence into the precomposed form
    assert "café" not in got[4][0] and "café" in got[4][0]
    # JVM-only face (no UDF) when unicode_form is None
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        clean_text(df).explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" not in plan and "Join" not in plan


def test_embedding_near_pairs_auto_planes(spark, emb):
    """planes='auto' sizes the plane count from the corpus so the
    expected bucket occupancy stays ~target_bucket as data grows."""
    import math

    from baloo_spark.operators.dedup import embedding_near_pairs
    n = emb.count()
    expect = max(4, min(24, math.ceil(math.log2(n / 16))))
    auto = sorted((r["id_a"], r["id_b"]) for r in
                  embedding_near_pairs(emb, threshold=0.999,
                                       planes="auto",
                                       target_bucket=16).collect())
    explicit = sorted((r["id_a"], r["id_b"]) for r in
                      embedding_near_pairs(emb, threshold=0.999,
                                           planes=expect).collect())
    assert auto == explicit   # auto resolved to the expected count
    # tiny corpus -> floor of 4 planes, still runs end to end
    tiny = emb.limit(8)
    assert embedding_near_pairs(tiny, planes="auto").count() >= 0


def test_hyperplane_sig_seed_zero_bit_identical(spark):
    """seed=0 must reproduce the pre-seed signatures exactly (driver
    slots depend on it); a different seed draws an independent plane
    family."""
    import numpy as np
    from baloo_spark.operators.similarity import hyperplane_sig
    rng = np.random.RandomState(7)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=12)]) for i in range(50)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    rows = df.select(
        hyperplane_sig("embedding", 8).alias("default"),
        hyperplane_sig("embedding", 8, seed=0).alias("s0"),
        hyperplane_sig("embedding", 8, seed=1).alias("s1")).collect()
    assert all(r["default"] == r["s0"] for r in rows)
    assert any(r["s0"] != r["s1"] for r in rows)


def test_embedding_near_pairs_multi_seed_recall(spark):
    """VERDICT r4 Next #3: union-of-3-seeds recall beats single-seed
    recall at fixed planes on a perturbed-twin fixture, and never
    emits a duplicate or false pair (every emitted pair still passes
    the exact cosine check)."""
    import numpy as np
    from baloo_spark.operators.dedup import embedding_near_pairs
    rng = np.random.RandomState(42)
    n, dim = 80, 16
    base = rng.normal(size=(n, dim))
    twins = base + rng.normal(scale=0.08, size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)]
        + [(1000 + i, [float(x) for x in twins[i]]) for i in range(n)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    thr = 0.97
    cos = [float(base[i] @ twins[i]
                 / (np.linalg.norm(base[i]) * np.linalg.norm(twins[i])))
           for i in range(n)]
    truth = {(i, 1000 + i) for i in range(n) if cos[i] >= thr}
    single = [(r["id_a"], r["id_b"]) for r in
              embedding_near_pairs(df, threshold=thr, planes=10).collect()]
    union = [(r["id_a"], r["id_b"]) for r in
             embedding_near_pairs(df, threshold=thr, planes=10,
                                  seeds=[0, 1, 2]).collect()]
    assert len(set(union)) == len(union)          # no dup pairs
    assert set(single) <= set(union)              # seed 0 is one family
    r_single = len(set(single) & truth) / len(truth)
    r_union = len(set(union) & truth) / len(truth)
    assert r_union > r_single                     # the recall amplifier
    assert r_union >= 0.95


def test_ngram_counts_shared_table_parity(spark):
    """corpus_ngrams(counts=) and vocabulary_stats(counts=) over one
    ngram_counts table must equal their re-scan forms exactly."""
    from baloo_spark.operators.text import (corpus_ngrams, ngram_counts,
                                            vocabulary_stats)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    tt = ngram_counts(docs, n=1)
    a = corpus_ngrams(docs, n=1, top_k=25).collect()
    b = corpus_ngrams(docs, n=1, top_k=25, counts=tt).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    va = vocabulary_stats(docs).first()
    vb = vocabulary_stats(docs, counts=tt).first()
    assert tuple(va) == tuple(vb)
