"""Round-6 optimization regressions: every change here re-shapes a plan
without changing what it computes — these tests pin the "without
changing" half (and the one deliberate semantic change, the gazetteer's
index-time IDF, via its new no-canonical-scan contract)."""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np
from pyspark.sql import functions as F


def _records(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, conv_text string")


VOCAB_ROWS = [
    ("c1", "alpha beta beta gamma delta"),
    ("c2", "alpha beta epsilon zeta"),
    ("c3", "gamma gamma gamma unique1 unique2"),
    ("c4", "alpha alpha alpha alpha"),
    ("c5", "zeta epsilon unique3"),
]


def _stats(spark):
    from sparklink.blocking import token_stats

    recs = _records(spark, VOCAB_ROWS)
    toks, tf, dfreq = token_stats(recs, "conv_text")
    return recs, tf, dfreq


def _py_tokens(text):
    return [t for t in re.split(r"[^0-9a-z]+", text.lower()) if t]


def _py_tf(rows):
    return {rid: Counter(_py_tokens(text)) for rid, text in rows}


def _py_df(rows):
    return Counter(t for _, text in rows for t in set(_py_tokens(text)))


def _spark_hashes(spark, toks):
    """token -> the default 31-bit token hash (pmod(xxhash64, 2^31))."""
    df = spark.createDataFrame([(t,) for t in sorted(toks)], "token string")
    h = F.pmod(F.xxhash64("token"), F.lit(1 << 31)).cast("int")
    return {r["token"]: r["h"] for r in df.select("token", h.alias("h")).collect()}


def _py_weights(tfs, df, n, lo, hi):
    """[(w, token)] by (w desc, token asc), tf * log((n+1)/(df+1)) over
    the tokens with lo <= df <= hi; tokens absent from df are dropped."""
    ws = [(tf * math.log((n + 1.0) / (df[t] + 1.0)), t) for t, tf in tfs.items() if t in df and lo <= df[t] <= hi]
    return sorted(ws, key=lambda x: (-x[0], x[1]))


def _py_tfidf_arrays(tf_by_rec, df, n, hashes, top_m=48, max_df_frac=0.5):
    """Pure-Python reference of tfidf_token_arrays_from_vocab: top_m by
    (w desc, token asc), hash, keep the max-weight entry per hash (sorted
    h asc), L2-normalize, float32. {record_id: (tfh, tfw)}."""
    out = {}
    for rid, tfs in tf_by_rec.items():
        top = _py_weights(tfs, df, n, 0, int(max(1, max_df_frac * n)))[:top_m]
        if not top:
            continue
        hw = sorted(((hashes[t], w) for w, t in top), key=lambda x: (x[0], -x[1]))
        hw = [x for i, x in enumerate(hw) if i == 0 or x[0] != hw[i - 1][0]]
        norm = math.sqrt(sum(w * w for _, w in hw))
        out[rid] = ([h for h, _ in hw], [np.float32(w / norm if norm > 0 else 0.0) for _, w in hw])
    return out


def _assert_arrays_equal(got, want):
    assert sorted(got) == sorted(want)
    for rid, (tfh, tfw) in want.items():
        assert list(got[rid][0]) == tfh, rid
        assert np.array_equal(np.asarray(got[rid][1], dtype=np.float32), np.asarray(tfw, dtype=np.float32)), rid


def test_tfidf_vocab_path_matches_python_reference(spark):
    """The vocab path's tf-idf arrays equal the pure-Python reference
    bit for bit (float32 weights)."""
    from sparklink.blocking import record_token_vocab
    from sparklink.distances import tfidf_token_arrays_from_vocab

    recs, tf, dfreq = _stats(spark)
    n = recs.count()
    got = {
        r["record_id"]: (r["tfh"], r["tfw"])
        for r in tfidf_token_arrays_from_vocab(record_token_vocab(tf, dfreq), n).collect()
    }
    tf_py, df_py = _py_tf(VOCAB_ROWS), _py_df(VOCAB_ROWS)
    want = _py_tfidf_arrays(tf_py, df_py, n, _spark_hashes(spark, df_py))
    _assert_arrays_equal(got, want)


def test_canopy_vocab_path_matches_python_reference(spark):
    """The vocab path's canopy keys equal the pure-Python top-m
    selection (min_df <= df <= 0.2*n, (w desc, token asc))."""
    from sparklink.blocking import record_token_vocab, tfidf_canopy_keys_from_vocab

    recs, tf, dfreq = _stats(spark)
    n = recs.count()
    got = {
        (r["block_key"], r["record_id"])
        for r in tfidf_canopy_keys_from_vocab(record_token_vocab(tf, dfreq), n, "conv_text", top_m=2).collect()
    }
    df_py = _py_df(VOCAB_ROWS)
    want = {
        (f"canopy(conv_text):{t}", rid)
        for rid, tfs in _py_tf(VOCAB_ROWS).items()
        for _, t in _py_weights(tfs, df_py, n, 1, int(max(1, 0.2 * n)))[:2]
    }
    assert got == want and len(got) > 0


def test_connected_components_duplicate_edges_identical(spark):
    """CC dropped the .distinct() on the symmetrized edge list: min-label
    propagation must give identical components under duplicated edges."""
    from sparklink.cluster import connected_components

    edges = [("a", "b"), ("b", "c"), ("d", "e")]
    clean = spark.createDataFrame(edges, "id_a string, id_b string")
    dup = spark.createDataFrame(edges * 3 + [("b", "c")], "id_a string, id_b string")
    got_clean = {r["record_id"]: r["component"] for r in connected_components(clean).collect()}
    got_dup = {r["record_id"]: r["component"] for r in connected_components(dup).collect()}
    assert got_clean == got_dup == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_refine_components_bucketed_many_components(spark):
    """Bucketed HAC refinement (components hashed into buckets, pandas
    groupby inside) must refine every component independently — same
    per-component answers as one-group-per-component dispatch."""
    from sparklink.cluster import refine_components

    rows, comps = [], []
    for k in range(40):
        a, b, c = f"a{k:02d}", f"b{k:02d}", f"c{k:02d}"
        # strong a-b, weak chain to c: average linkage at cut 0.5 keeps
        # a-b together and splits c off (same shape as
        # test_refine_weak_chain_still_splits, repeated across components)
        rows += [(a, b, 0.95), (b, c, 0.55), (a, c, 0.05)]
        comps += [(a, a), (b, a), (c, a)]
    edges = spark.createDataFrame(rows, "id_a string, id_b string, score double")
    cdf = spark.createDataFrame(comps, "record_id string, component string")
    out = refine_components(edges, cdf, threshold=0.5).toPandas().set_index("record_id")["canon_id"]
    assert len(out) == 120
    for k in range(40):
        a, b, c = f"a{k:02d}", f"b{k:02d}", f"c{k:02d}"
        assert out[a] == out[b]
        assert out[c] != out[a]


def test_dot_expansion_matches_fold(spark):
    """_dot_fixed must equal _dot bit-for-bit on exact-dim rows and fall
    back identically on ragged rows."""
    from sparklink.ann import _dot, _dot_fixed

    rows = [
        ([0.1, 0.2, 0.3, 0.4], [0.4, 0.3, 0.2, 0.1]),
        ([1.0, -1.0, 2.0, -2.0], [0.5, 0.25, -0.125, 3.0]),
        ([0.1, 0.2], [0.3, 0.4]),  # ragged: falls back to the fold
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = df.select(
        _dot(F.col("a"), F.col("b")).alias("fold"),
        _dot_fixed(F.col("a"), F.col("b"), 4).alias("fixed"),
    ).collect()
    for r in got:
        assert r["fold"] == r["fixed"]


def test_gazetteer_search_without_canonical_corpus(spark, tmp_path):
    """VERDICT r5 #1 done-criterion: after load_index from a catalog, the
    search path must run ENTIRELY from the staged tables — no job over the
    canonical corpus (simulated by severing the canonical frame)."""
    from sparklink.checkpoints import Catalog
    from sparklink.linkage import SparkGazetteer
    from sparklink.synth import write_fixture
    from sparklink.canonicalize import canonicalize

    paths = write_fixture(spark, str(tmp_path / "data"), n_entities=30, seed=11)
    transcripts = spark.read.parquet(paths["transcripts"])
    records = canonicalize(transcripts)
    ids = records.select("conv_id").distinct()
    messy_ids = ids.filter(F.pmod(F.xxhash64("conv_id"), F.lit(10)) == 0)
    messy = records.join(messy_ids, "conv_id", "left_semi").localCheckpoint(eager=True)
    base = records.join(messy_ids, "conv_id", "left_anti").localCheckpoint(eager=True)

    import json as _json

    from sparklink.score import FieldModel

    art = _json.load(open("models/transcript_model.json"))
    model = FieldModel.from_json(_json.dumps(art))
    cat = Catalog(spark, str(tmp_path / "wh"))
    gaz = SparkGazetteer(model=model, threshold=float(art["threshold"]))
    gaz.index(base, catalog=cat)
    before = {(r["messy_id"], r["canonical_id"], r["rank"]) for r in gaz.search(messy, n_matches=2).collect()}
    gaz.unindex()

    # fresh process proxy: reload from the catalog, then SEVER the
    # canonical records — search must neither scan nor reference them
    gaz2 = SparkGazetteer(model=model, threshold=float(art["threshold"]))
    gaz2.load_index(cat)
    gaz2._canonical = None
    after = {(r["messy_id"], r["canonical_id"], r["rank"]) for r in gaz2.search(messy, n_matches=2).collect()}
    assert after == before and len(after) > 0


def test_gazetteer_idf_is_an_index_time_constant(spark):
    """The messy delta is weighted by the INDEX's df and corpus size: a
    messy token absent from the index vocabulary carries no weight, and
    the delta's (tfh, tfw) equal the Python reference over the index df
    (df <= 0.5*n filter, top 48 by (w desc, token asc), hash dedup,
    L2-normalized float32)."""
    from sparklink import blocking as B
    from sparklink.linkage import SparkGazetteer
    from sparklink.score import FieldModel, Variable

    wide = " ".join(f"w{i:02d}" for i in range(60))
    canonical = [
        ("c1", "alpha beta gamma"),
        ("c2", "alpha beta delta"),
        ("c3", "alpha gamma epsilon"),
        ("c4", "alpha zeta eta"),
        ("c5", "theta iota kappa"),
        ("c6", "lambda mu beta"),
        ("c7", wide),
    ]
    messy = [
        # novelword: absent from the index; alpha: df 4 > 0.5 * 7
        ("m1", "alpha beta novelword novelword gamma"),
        ("m2", "Theta kappa kappa delta"),
        # 60 index tokens, w00 twice: the top-48 cut by (w desc, token asc)
        ("m3", "w00 " + wide),
        ("m4", "novelword"),
    ]
    gaz = SparkGazetteer(
        model=FieldModel(variables=[Variable("conv_text", "text", has_missing=False)]),
        predicates=[B.Predicate("first_tok(conv_text)", "conv_text", B.first_token)],
    )
    gaz.index(_records(spark, canonical))
    try:
        got = {
            r["conv_id"]: (r["tfh_conv_text"], r["tfw_conv_text"])
            for r in gaz._delta_payload(_records(spark, messy)).collect()
        }
    finally:
        gaz.unindex()

    df_index = _py_df(canonical)
    hashes = _spark_hashes(spark, set(df_index) | {"novelword"})
    assert "novelword" not in df_index
    assert hashes["novelword"] not in got["m1"][0]
    assert got["m4"] == (None, None)  # no index token at all: no arrays
    want = _py_tfidf_arrays(_py_tf(messy), df_index, len(canonical), hashes)
    assert len(want["m3"][0]) == 48
    _assert_arrays_equal({k: v for k, v in got.items() if k != "m4"}, want)


def test_match_new_second_batch_reuses_staged_gazetteer(spark, tmp_path):
    """VERDICT r5 #2 done-criterion: a second match_new batch against the
    SAME base must resume the staged gazetteer tables (index, slim
    payload, token stats) instead of re-deriving anything about the
    unchanged base — asserted via the child catalog's resume_hit
    metrics."""
    import json as _json

    from sparklink.checkpoints import Catalog
    from sparklink.pipeline import SparkDedupe
    from sparklink.score import FieldModel
    from sparklink.synth import write_fixture
    from sparklink.canonicalize import canonicalize

    paths = write_fixture(spark, str(tmp_path / "data"), n_entities=30, seed=3)
    transcripts = spark.read.parquet(paths["transcripts"])
    ids = transcripts.select("conv_id").distinct()
    mod = F.pmod(F.xxhash64("conv_id"), F.lit(10))
    base_t = transcripts.join(ids.filter(mod >= 2), "conv_id", "left_semi").localCheckpoint(eager=True)
    d1 = transcripts.join(ids.filter(mod == 0), "conv_id", "left_semi").localCheckpoint(eager=True)
    d2 = transcripts.join(ids.filter(mod == 1), "conv_id", "left_semi").localCheckpoint(eager=True)

    art = _json.load(open("models/transcript_model.json"))
    dd = SparkDedupe(
        model=FieldModel.from_json(_json.dumps(art)),
        threshold=float(art["threshold"]),
        catalog=Catalog(spark, str(tmp_path / "wh")),
    )
    base_records = dd.canonical_records(base_t).localCheckpoint(eager=True)
    em0 = dd.partition(base_t).localCheckpoint(eager=True)
    dd.release_token_stats()

    assert dd.match_new(d1, base_records, em0).count() > 0
    child = Catalog(spark, str(tmp_path / "wh" / "match_new_batch"))
    hits_before = sum(
        1 for m in child.metrics() if m.get("event") == "resume_hit" and m["stage"].startswith("gazetteer_")
    )
    assert dd.match_new(d2, base_records, em0).count() > 0
    hits_after = sum(
        1 for m in child.metrics() if m.get("event") == "resume_hit" and m["stage"].startswith("gazetteer_")
    )
    resumed = hits_after - hits_before
    # index + canonical + meta + dfreq + slim all keyed on the BASE
    # fingerprint -> every one resumes on the second batch
    assert resumed >= 5, f"only {resumed} gazetteer stages resumed on the second batch"


def test_block_keys_distinct_per_row(spark):
    """build_blocking_map dropped its global dropDuplicates: the per-row
    array_distinct must keep the relation unique even for a custom
    predicate that emits duplicate keys."""
    from sparklink import blocking as B

    df = spark.createDataFrame([("c1", "x")], "conv_id string, t string")
    dup_pred = B.Predicate("dup", "t", lambda c: F.array(c, c, c))
    bm = B.build_blocking_map(df, [dup_pred])
    assert bm.collect() == [("dup:x", "c1")] or [
        (r["block_key"], r["record_id"]) for r in bm.collect()
    ] == [("dup:x", "c1")]
