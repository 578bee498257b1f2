"""The workloads. Each drives only sparklink's public entry points.

An operation is what one client waits for; the loop is closed (the next
operation starts when the previous one returned) with one client. An
untraced run first calls the workload's ``warmup`` (untimed), so the
timed operations run on a JVM whose JIT and codegen caches are warm.

- ``dedupe_full``: one ``SparkDedupe.partition(transcripts)``.
- ``ingest_delta``: ``SparkGazetteer.search(batch)`` against a base
  indexed once at set-up; the traced run adds ``SparkGazetteer.match``,
  ``SparkDedupe.match_new(batch, base_records, em_base)`` and one pass
  over the nine catalog queries.
- ``query_catalog``: one pass over nine ``sparklink.queries.QUERIES``
  entries in a seed-permuted order. Runnable, but not in BENCHMARK.json:
  its per-layer numbers come from the traced ``ingest_delta`` run.

Each workload also has a traced mode (``traced``) that times every public
layer call from outside, inside its own job group, and returns the
per-layer metrics.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics

import pandas as pd

import fixtures
from host import ROOT

# Output invariants recorded at (entities, seed): records, block entries,
# scored pairs, clusters, pairwise F1 (4 dp). 8000 entities is the
# historical bench corpus; the default sizes are this benchmark's own.
DEDUPE_INVARIANTS = {
    (8000, 42): (34171, 536509, 299593, 8095, 0.9919),
    (100, 42): (466, 8603, 5510, 100, 1.0),
}
# entities of the corpus dedupe_full's untimed warm-up partitions
WARMUP_ENTITIES = 20
PREDICATES = ("first_tok", "pre6", "acronym", "ints", "canopy", "minhash")
HEADLINE_QUERIES = (
    "er_candidate_pairs",
    "er_pair_scores",
    "q_top_entities",
    "q_group_agg",
    "q_window_topn",
    "dedup_minhash_lsh",
    "dedup_exact",
    "text_quality",
    "ann_topk_bruteforce",
)
EXPECTED_QUERIES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_queries.json")


def _per_layer_units() -> dict[str, str]:
    u = {
        "session.build_s": "s",
        "host.calibration_s": "CPU-s",
        "warmup.first_op_s": "s",
        "warmup.jit_s": "s",
        "trace.overhead_s": "s",
        "op.wall_s": "s",
        "process.jvm_cpu_s": "CPU-s",
        "process.jit_cpu_s": "CPU-s",
        "process.python_cpu_s": "CPU-s",
        "process.peak_rss_mb": "MB",
        "process.peak_rss_jvm_mb": "MB",
        "process.peak_rss_python_mb": "MB",
        "canonicalize.wall_s": "s",
        "canonicalize.cpu_s": "CPU-s",
        "canonicalize.rows_out": "count",
        "blocking.wall_s": "s",
        "blocking.cpu_s": "CPU-s",
        "blocking.shuffle_write_bytes": "bytes",
        "blocking.spill_bytes": "bytes",
        "blocking.entries": "count",
        "blocking.max_block": "count",
    }
    for p in PREDICATES:
        u[f"blocking.{p}.entries"] = "count"
        u[f"blocking.{p}.candidate_pairs"] = "count"
    u.update(
        {
            "pairs.wall_s": "s",
            "pairs.shuffle_read_bytes": "bytes",
            "pairs.candidates": "count",
            "pairs.useful_ratio": "ratio",
            "score.wall_s": "s",
            "score.cpu_s": "CPU-s",
            "score.python_cpu_s": "CPU-s",
            "score.pairs_per_s": "1/s",
            "cluster.wall_s": "s",
            "cluster.cpu_s": "CPU-s",
            "cluster.jobs": "count",
            "cluster.n_clusters": "count",
            "cluster.max_size": "count",
            "pipeline.compose_s": "s",
            "linkage.index.wall_s": "s",
            "linkage.index.cpu_s": "CPU-s",
            "linkage.index.shuffle_write_bytes": "bytes",
            "linkage.index.jobs": "count",
            "linkage.search.wall_s": "s",
            "linkage.search.hits": "count",
            "linkage.match_share": "ratio",
            "pipeline.match_new.wall_s": "s",
            "pipeline.match_new.cpu_s": "CPU-s",
            "pipeline.match_new.jobs": "count",
            "pipeline.match_new.shuffle_write_bytes": "bytes",
            "pipeline.match_new.f1": "ratio",
        }
    )
    for q in HEADLINE_QUERIES:
        u[f"queries.{q}.wall_s"] = "s"
    return u


PER_LAYER_UNITS = _per_layer_units()


class CheckFailed(Exception):
    """An operation's output failed its check."""


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def load_model():
    from sparklink.score import FieldModel

    with open(os.path.join(ROOT, "models", "transcript_model.json")) as f:
        art = json.load(f)
    return FieldModel.from_json(json.dumps(art)), float(art["threshold"])


def _pairs(n):
    return n * (n - 1) // 2


def pairwise_f1(pred: pd.DataFrame, truth: pd.DataFrame, touching: set | None = None) -> float:
    """Pairwise F1 of pred(record_id, canon_id) against truth(conv_id,
    true_entity_id), unlabeled ('x') records excluded on both sides. With
    ``touching``, only pairs with at least one member in that set count."""
    m = pred.merge(truth[truth.true_entity_id != "x"], left_on="record_id", right_on="conv_id")
    m = m.assign(t=m.record_id.isin(touching) if touching is not None else True)

    def n_pairs(keys) -> int:
        g = m.groupby(keys)["t"].agg(["size", "sum"])
        return int((g["size"].map(_pairs) - (g["size"] - g["sum"]).map(_pairs)).sum())

    found, true, tp = n_pairs(["canon_id"]), n_pairs(["true_entity_id"]), n_pairs(["canon_id", "true_entity_id"])
    p = tp / found if found else 1.0
    r = tp / true if true else 1.0
    return 2 * p * r / (p + r) if p + r else 0.0


def em_digest(em: pd.DataFrame) -> str:
    rows = sorted(zip(em.record_id, em.canon_id))
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def frame_digest(df) -> tuple[int, str]:
    """(rows, order-independent hash over every column) of a DataFrame,
    computed in one Spark aggregation, so every output column is evaluated."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


class Recorded:
    """First-seen output digests of one fixture, kept beside it, so a
    repeated operation (in this run or a later run on the same cached
    fixture) must reproduce them."""

    def __init__(self, fixture_dir: str):
        self.path = os.path.join(fixture_dir, "outputs.json")
        self.seen = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.seen = json.load(f)

    def check(self, key: str, value) -> None:
        value = json.loads(json.dumps(value))
        if key not in self.seen:
            self.seen[key] = value
            tmp = f"{self.path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self.seen, f)
            os.replace(tmp, self.path)
        _check(self.seen[key] == value, f"{key}: {value} != recorded {self.seen[key]}")


def _op_layers(first: dict, warm: dict) -> dict:
    """Layer metrics of whole operations: the first (cold) one, untraced,
    and a warm traced one."""
    span = warm["span"]
    return {
        "warmup.first_op_s": first["wall_s"],
        "warmup.jit_s": first["wall_s"] - (warm["wall_s"] - span["tracer_inner_s"]),
        "trace.overhead_s": span["tracer_s"],
        "op.wall_s": warm["wall_s"],
        "process.jvm_cpu_s": span["proc_jvm_cpu_s"],
        "process.jit_cpu_s": span["proc_jit_cpu_s"],
        "process.python_cpu_s": span["proc_python_cpu_s"],
    }


def _stage_layers(tracer, dd, transcripts, threshold) -> tuple[dict, pd.DataFrame, int, float]:
    """The stages partition() composes, called one at a time and each
    materialized inside its own span. Returns (layer metrics, entity map,
    scored pairs, summed stage wall seconds)."""
    from pyspark.sql import functions as F

    from sparklink import blocking as B
    from sparklink.cluster import entity_map

    out = {}
    with tracer.span("canonicalize") as s_c:
        records = dd.canonical_records(transcripts).localCheckpoint(eager=True)
    out["canonicalize.rows_out"] = records.count()
    with tracer.span("blocking") as s_b:
        bm = dd.blocking_map(records).localCheckpoint(eager=True)
    out["blocking.entries"] = bm.count()
    stats = {r["predicate"]: r for r in B.blocking_stats(bm).collect()}
    for p in PREDICATES:
        rows = [r for k, r in stats.items() if (k.startswith("mh") if p == "minhash" else k.startswith(p + "("))]
        out[f"blocking.{p}.entries"] = sum(r["n_entries"] for r in rows)
        out[f"blocking.{p}.candidate_pairs"] = sum(r["n_candidate_pairs"] for r in rows)
    out["blocking.max_block"] = max((r["max_block"] for r in stats.values()), default=0)
    with tracer.span("pairs") as s_p:
        hyd = dd.hydrated_pairs(records, bm).localCheckpoint(eager=True)
    out["pairs.candidates"] = hyd.count()
    with tracer.span("score") as s_s:
        scored = dd.score_hydrated(hyd).localCheckpoint(eager=True)
    n_scored = scored.count()
    dd.release_token_stats()
    out["pairs.useful_ratio"] = scored.filter(F.col("score") >= threshold).count() / max(n_scored, 1)
    with tracer.span("cluster") as s_k:
        em = entity_map(scored, records, threshold=threshold, refine=dd.refine, max_component=dd.max_component)
        em = em.toPandas()
    sizes = em.groupby("canon_id").size()
    out.update(
        {
            "canonicalize.wall_s": s_c.wall_s,
            "canonicalize.cpu_s": s_c["executor_cpu_s"],
            "blocking.wall_s": s_b.wall_s,
            "blocking.cpu_s": s_b["executor_cpu_s"],
            "blocking.shuffle_write_bytes": s_b["shuffle_write_bytes"],
            "blocking.spill_bytes": s_b["spill_bytes"],
            "pairs.wall_s": s_p.wall_s,
            "pairs.shuffle_read_bytes": s_p["shuffle_read_bytes"],
            "score.wall_s": s_s.wall_s,
            "score.cpu_s": s_s["executor_cpu_s"],
            "score.python_cpu_s": s_s["proc_python_cpu_s"],
            "score.pairs_per_s": n_scored / s_s.wall_s,
            "cluster.wall_s": s_k.wall_s,
            "cluster.cpu_s": s_k["executor_cpu_s"],
            "cluster.jobs": s_k["jobs"],
            "cluster.n_clusters": int(sizes.size),
            "cluster.max_size": int(sizes.max()),
        }
    )
    stage_wall = s_c.wall_s + s_b.wall_s + s_p.wall_s + s_s.wall_s + s_k.wall_s
    return out, em, n_scored, stage_wall


class DedupeFull:
    name = "dedupe_full"
    min_ops = 1

    def __init__(self, seed: int, tiny: bool, entities: int | None):
        self.seed = seed
        self.n_entities = entities or (20 if tiny else 100)

    def fixture(self) -> None:
        self.dir = fixtures.transcripts(self.n_entities, self.seed)
        self.warm_dir = fixtures.transcripts(WARMUP_ENTITIES, self.seed)
        self.recorded = Recorded(self.dir)

    def open(self, spark) -> None:
        self.transcripts = spark.read.parquet(f"{self.dir}/transcripts.parquet")
        self.truth = pd.read_parquet(f"{self.dir}/conv_truth.parquet")
        self.warm_transcripts = spark.read.parquet(f"{self.warm_dir}/transcripts.parquet")
        self.warm_ids = set(pd.read_parquet(f"{self.warm_dir}/conv_truth.parquet").conv_id)
        self.model, self.threshold = load_model()

    def warmup(self, tracer) -> None:
        """partition() of a smaller corpus from the same generator, which
        runs every plan the measured operations run and pays their
        first-use cost (class loading, codegen) for less than a cold
        operation on the corpus, then one operation on the corpus, over
        which the JIT compiles most of the rest."""
        em = self._dedupe().partition(self.warm_transcripts).toPandas()
        _check(em.record_id.is_unique and set(em.record_id) == self.warm_ids, "warm-up entity map != its input records")
        self.op(-1, tracer)

    def _dedupe(self):
        from sparklink.pipeline import SparkDedupe

        return SparkDedupe(model=self.model, threshold=self.threshold)

    def _check_em(self, em: pd.DataFrame) -> float:
        _check(len(em) == len(self.truth), f"{len(em)} entity-map rows for {len(self.truth)} records")
        _check(em.record_id.is_unique, "a record got more than one canon")
        _check(set(em.record_id) == set(self.truth.conv_id), "entity map records differ from the input")
        canon_min = em.groupby("canon_id").record_id.min()
        _check(bool((canon_min.index == canon_min.values).all()), "a canon is not its cluster's min id")
        self.recorded.check("entity_map", em_digest(em))
        f1 = pairwise_f1(em, self.truth)
        inv = DEDUPE_INVARIANTS.get((self.n_entities, self.seed))
        if inv is not None:
            got = (len(em), em.canon_id.nunique(), round(f1, 4))
            _check(got == (inv[0], inv[3], inv[4]), f"invariants {got} != {(inv[0], inv[3], inv[4])}")
        return f1

    def op(self, i: int, tracer) -> dict:
        dd = self._dedupe()
        with tracer.span("dedupe.partition") as s:
            em = dd.partition(self.transcripts).toPandas()
        dd.release_token_stats()
        return {"span": s, "quality": self._check_em(em)}

    def traced(self, tracer, plain_op, traced_op) -> dict:
        first = plain_op(0)
        warm = traced_op(1)
        out = _op_layers(first, warm)
        dd = self._dedupe()
        layers, em, n_scored, stage_wall = _stage_layers(tracer, dd, self.transcripts, self.threshold)
        out.update(layers)
        self.recorded.check("entity_map", em_digest(em))
        inv = DEDUPE_INVARIANTS.get((self.n_entities, self.seed))
        if inv is not None:
            got = (layers["canonicalize.rows_out"], layers["blocking.entries"], n_scored, layers["cluster.n_clusters"])
            _check(got == inv[:4], f"stage invariants {got} != {inv[:4]}")
        out["pipeline.compose_s"] = warm["wall_s"] - warm["span"]["tracer_inner_s"] - stage_wall
        return out


class IngestDelta:
    name = "ingest_delta"
    # the search's CPU still falls from one call to the next (the JIT);
    # a fixed count keeps the median at the same place on that curve
    min_ops = 5
    n_batches = 4
    batch_pct = 4

    def __init__(self, seed: int, tiny: bool, entities: int | None):
        self.seed = seed
        self.n_entities = entities or (40 if tiny else 200)
        self.catalog = QueryCatalog(seed, tiny, None)

    def fixture(self) -> None:
        self.dir = fixtures.ingest(self.n_entities, self.seed, self.n_batches, self.batch_pct)
        self.recorded = Recorded(self.dir)
        self.catalog.fixture()

    def open(self, spark) -> None:
        from pyspark.sql import functions as F

        self.spark = spark
        self.base_t = spark.read.parquet(f"{self.dir}/base_transcripts.parquet")
        batches = spark.read.parquet(f"{self.dir}/batches.parquet")
        self.batches = [batches.filter(F.col("batch") == b).drop("batch") for b in range(self.n_batches)]
        self.em_base = spark.read.parquet(f"{self.dir}/em_base.parquet")
        self.truth = pd.read_parquet(f"{self.dir}/conv_truth.parquet")
        self.em_base_pd = pd.read_parquet(f"{self.dir}/em_base.parquet")
        ids = pd.read_parquet(f"{self.dir}/batches.parquet", columns=["conv_id", "batch"])
        self.batch_ids = [set(ids.conv_id[ids.batch == b]) for b in range(self.n_batches)]
        self.model, self.threshold = load_model()

    def prepare(self, tracer) -> dict:
        """Set-up work of the workload: canonicalize and index the base."""
        from sparklink.linkage import SparkGazetteer
        from sparklink.pipeline import SparkDedupe

        dd = SparkDedupe(model=self.model, threshold=self.threshold)
        self.base_records = dd.canonical_records(self.base_t).localCheckpoint(eager=True)
        self.gaz = SparkGazetteer(model=self.model, threshold=self.threshold)
        with tracer.span("linkage.index") as s:
            self.gaz.index(self.base_records)
        self.index_span = s
        return {"index_s": s.wall_s}

    def _batch(self, i: int) -> int:
        return (self.seed + i) % self.n_batches

    def warmup(self, tracer) -> None:
        """Two searches (of the batches the third and fourth operations
        search): the first pays the probe's first-use cost, the second
        most of the JIT's."""
        self.op(-2, tracer)
        self.op(-1, tracer)

    def _recall_at_2(self, hits: pd.DataFrame, ids: set) -> float:
        """Share of batch records with a true match in the base that have
        one among their top-2 hits."""
        entity = dict(zip(self.truth.conv_id, self.truth.true_entity_id))
        in_base = {entity[r] for r in self.em_base_pd.record_id if entity[r] != "x"}
        want = {r for r in ids if entity[r] in in_base}
        found = {m for m, c in zip(hits.messy_id, hits.canonical_id) if m in want and entity[c] == entity[m]}
        return len(found) / len(want) if want else 1.0

    def op(self, i: int, tracer) -> dict:
        from sparklink.canonicalize import canonicalize

        b = self._batch(i)
        with tracer.span("linkage.search") as s:
            hits = self.gaz.search(canonicalize(self.batches[b]), n_matches=2).toPandas()
        ids = self.batch_ids[b]
        _check(set(hits.messy_id) <= ids, "search returned a record outside the batch")
        _check(bool((hits["rank"] <= 2).all()) and hits.messy_id.value_counts().max() <= 2, "more than 2 hits")
        _check(set(hits.canonical_id) <= set(self.em_base_pd.record_id), "search hit outside the index")
        self.recorded.check(f"search_b{b}", [len(hits), em_digest(hits.rename(columns={"messy_id": "record_id", "canonical_id": "canon_id"}))])
        return {"span": s, "quality": self._recall_at_2(hits, ids), "hits": len(hits)}

    def _match_new(self, tracer, b: int):
        from sparklink.pipeline import SparkDedupe

        with tracer.span("pipeline.match_new") as s:
            dd = SparkDedupe(model=self.model, threshold=self.threshold)
            delta = dd.match_new(self.batches[b], self.base_records, self.em_base).toPandas()
        ids = self.batch_ids[b]
        _check(len(delta) == len(ids), f"match_new returned {len(delta)} rows for {len(ids)} batch records")
        _check(delta.record_id.is_unique and set(delta.record_id) == ids, "match_new rows != batch records")
        self.recorded.check(f"match_new_b{b}", em_digest(delta))
        return s, delta

    def traced(self, tracer, plain_op, traced_op) -> dict:
        from sparklink.canonicalize import canonicalize
        from sparklink.pipeline import SparkDedupe

        idx = self.index_span
        first = plain_op(0)
        warm = traced_op(1)
        out = _op_layers(first, warm)
        out.update(
            {
                "linkage.index.wall_s": idx.wall_s,
                "linkage.index.cpu_s": idx["executor_cpu_s"],
                "linkage.index.shuffle_write_bytes": idx["shuffle_write_bytes"],
                "linkage.index.jobs": idx["jobs"],
                "linkage.search.wall_s": warm["wall_s"],
                "linkage.search.hits": warm["hits"],
            }
        )
        b = self._batch(1)
        with tracer.span("linkage.match") as s_match:
            matched = self.gaz.match(canonicalize(self.batches[b])).toPandas()
        out["linkage.match_share"] = matched.messy_id.nunique() / len(self.batch_ids[b])
        # match_new once cold (untraced), then warm and traced
        with tracer.off():
            self._match_new(tracer, b)
        s_mn, delta = self._match_new(tracer, b)
        merged = pd.concat([self.em_base_pd, delta[["record_id", "canon_id"]]], ignore_index=True)
        out.update(
            {
                "pipeline.match_new.wall_s": s_mn.wall_s,
                "pipeline.match_new.cpu_s": s_mn["executor_cpu_s"],
                "pipeline.match_new.jobs": s_mn["jobs"],
                "pipeline.match_new.shuffle_write_bytes": s_mn["shuffle_write_bytes"],
                "pipeline.match_new.f1": pairwise_f1(merged, self.truth),
            }
        )
        # the in-batch pipeline match_new runs over the batch, stage by stage
        dd = SparkDedupe(model=self.model, threshold=self.threshold)
        layers, _, _, stage_wall = _stage_layers(tracer, dd, self.batches[b], self.threshold)
        out.update(layers)
        # match_new re-indexes the base, matches the batch, and partitions it
        out["pipeline.compose_s"] = s_mn.wall_s - (idx.wall_s + s_match.wall_s + stage_wall)
        # The catalog queries a daily job reports after its ingest: one
        # traced pass, on a JVM the layers above have warmed.
        self.catalog.open(self.spark)
        catalog = self.catalog.op(0, tracer)
        _check(not catalog["failed_queries"], f"catalog queries failed their check: {catalog['failed_queries']}")
        for name, sec in catalog["query_s"].items():
            out[f"queries.{name}.wall_s"] = sec
        return out


class QueryCatalog:
    name = "query_catalog"
    min_ops = 1

    def __init__(self, seed: int, tiny: bool, entities: int | None):
        self.seed = seed
        self.size = "tiny" if tiny else "default"
        self.order = list(HEADLINE_QUERIES)
        random.Random(seed).shuffle(self.order)

    def fixture(self) -> None:
        self.dir = fixtures.catalog(self.size)
        with open(EXPECTED_QUERIES) as f:
            self.expected = json.load(f).get(self.size, {})

    def open(self, spark) -> None:
        self.spark = spark
        for name in ("documents", "embeddings", "customer", "orders", "lineitem"):
            spark.read.parquet(f"{self.dir}/{name}.parquet")

    def warmup(self, tracer) -> None:
        failed = self.op(-1, tracer)["failed_queries"]
        _check(not failed, f"warm-up queries failed their check: {failed}")

    def op(self, i: int, tracer) -> dict:
        from sparklink.queries import QUERIES

        results, failed = {}, []
        with tracer.span("catalog.pass") as s:
            for name in self.order:
                with tracer.span(f"queries.{name}") as sq:
                    try:
                        digest = frame_digest(QUERIES[name](self.spark, self.dir))
                    except Exception as e:  # one query's failure is counted, the pass goes on
                        digest = f"error: {type(e).__name__}: {e}"
                results[name] = (digest, sq.wall_s)
        for name, (digest, _) in results.items():
            want = self.expected.get(name)
            if want is None or list(digest) != want:
                failed.append(name)
        return {
            "span": s,
            "attempted": len(results),
            "failed_queries": failed,
            "quality": 1 - len(failed) / len(results),
            "digests": {k: v[0] for k, v in results.items()},
            "query_s": {k: v[1] for k, v in results.items()},
        }

    def traced(self, tracer, plain_op, traced_op) -> dict:
        first = plain_op(0)
        warm = traced_op(1)
        out = _op_layers(first, warm)
        for name, sec in warm["query_s"].items():
            out[f"queries.{name}.wall_s"] = sec
        return out


WORKLOADS = {w.name: w for w in (DedupeFull, IngestDelta, QueryCatalog)}


def summarize(samples: list[float]) -> dict:
    """Median and the highest percentile the sample count supports (the
    maximum, with so few samples), with the count."""
    return {"median": statistics.median(samples), "max": max(samples), "n": len(samples)}
