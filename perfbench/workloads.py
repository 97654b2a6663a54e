"""The benchmark workloads: inputs, set-up, one timed unit, its traced
twin, and the output checks.

Each workload drives the program only through its public entry points
(``plans.pipeline.dedup_pipeline``, ``operators.incremental.dedup_increment``).
The traced twin calls the same layer functions in the order
plans/pipeline.py (or operators/incremental.py) calls them and
materializes each layer's result once inside its span, so the event log
can attribute jobs, task time and shuffle bytes to a layer. Its clusters
must equal the untraced unit's clusters on the same input.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.functions.signatures import make_doc_signature_udf
from genome_deduplication_spark.functions.text import normalize_text
from genome_deduplication_spark.operators.connected_components import (
    components_for_string_ids,
)
from genome_deduplication_spark.operators.exact_dedup import content_key
from genome_deduplication_spark.operators.incremental import dedup_increment
from genome_deduplication_spark.operators.lsh import band_buckets, candidate_pairs
from genome_deduplication_spark.operators.spans import (
    build_spans_table,
    coverage_gaps,
)
from genome_deduplication_spark.operators.suffix_array import (
    exact_substring_pairs,
    pairs_from_anchor_rows,
)
from genome_deduplication_spark.operators.verify import verify_pairs
from genome_deduplication_spark.plans.pipeline import dedup_pipeline
from genome_deduplication_spark.sources.checkpoint import RunContext

import gen
from measure import Tracer, dir_stats

LAYERS = (
    "text", "signatures", "lsh", "verify", "suffix_array",
    "connected_components", "spans", "incremental", "checkpoint", "pipeline",
)
SPAN_KINDS = {"sample", "masked", "ignored", "ambiguous"}
MIN_RECALL = 0.99  # ROADMAP gate


def _load(spark: SparkSession, path: str, cols: list[str]) -> DataFrame:
    # a single-file input scans as one task; spread it as bench.py does
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        spark.read.parquet(path).select(*cols).repartition(par, "url")
        .localCheckpoint(eager=True)
    )


def truth_scores(clusters: dict[str, str], truth: gen.Corpus) -> dict:
    """Planted-truth scores of ``clusters`` (url -> cluster id), plus the
    problems that fail the unit.

    pair_recall: share of planted pairs whose two docs share a cluster.
    cluster_purity: share of multi-member output clusters whose members
    all come from one planted group (singletons are pure by construction).
    """
    hit = sum(
        1 for p in truth.pairs
        if p["url_a"] in clusters and clusters[p["url_a"]] == clusters.get(p["url_b"])
    )
    recall = hit / len(truth.pairs)
    group = {t["url"]: t["group"] for t in truth.truth}
    members: dict[str, set] = {}
    sizes: dict[str, int] = {}
    for url, cid in clusters.items():
        members.setdefault(cid, set()).add(group.get(url))
        sizes[cid] = sizes.get(cid, 0) + 1
    multi = [members[cid] for cid, n in sizes.items() if n > 1]
    purity = sum(1 for g in multi if len(g) == 1) / len(multi) if multi else 1.0
    problems = [f"pair_recall {recall:.4f} < {MIN_RECALL}"] if recall < MIN_RECALL else []
    return {"pair_recall": recall, "cluster_purity": purity,
            "clusters": sorted(clusters.items()), "problems": problems}


def _lsh(tr: Tracer, sigs: DataFrame, cfg: DedupConfig, **kw) -> DataFrame:
    def thunk():
        pairs, stats = candidate_pairs(
            sigs, cfg, id_col="url", sig_col="minhash", with_stats=True, **kw)
        pairs = pairs.localCheckpoint(eager=True)
        st = stats.collect()[0]
        n = pairs.count()
        tr.add("lsh.candidates", n)
        tr.add("lsh.buckets_capped", st["buckets_capped"] or 0)
        tr.add("lsh.buckets_dropped", st["buckets_dropped"] or 0)
        return pairs, n
    return tr.run("lsh", thunk)


def _verify(tr: Tracer, pairs: DataFrame, sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    verified = tr.materialize("verify", lambda: verify_pairs(pairs, sigs, cfg, id_col="url"))
    tr.add("verify.candidates", verified.count())
    tr.add("verify.dups", verified.where("is_dup").count())
    return verified


class PipelineDupheavy:
    """Duplicate-heavy corpus through ``dedup_pipeline`` with a run_dir
    (stage checkpoints via sources.checkpoint), then the 4-way spans table.
    Set-up warms the session with one unit on a small corpus of the same
    kinds, so first-run costs (Python workers, JIT, code generation) land
    in ``setup_s`` and not in the timed unit."""

    name = "pipeline_dupheavy"

    def __init__(self, spark: SparkSession, seed: int, work: str):
        self.spark, self.work, self.cfg = spark, work, DedupConfig()
        self.corpus = gen.pipeline_corpus(seed)
        self.path = gen.write(self.corpus, os.path.join(work, "in"))["pages"]
        warm = gen.pipeline_corpus(seed, gen.DUPHEAVY_WARM, "warm")
        self.warm_path = gen.write(warm, os.path.join(work, "warm"))["pages"]
        self.docs = len(self.corpus.rows)
        self._runs = 0

    def _run_dir(self) -> str:
        self._runs += 1
        return os.path.join(self.work, "runs", f"r{self._runs}")

    def _pages(self, path: str) -> DataFrame:
        return _load(self.spark, path, ["url", "warc_ts", "text", "lang"])

    def setup(self) -> None:
        warm = self._unit(self._pages(self.warm_path))
        shutil.rmtree(warm["out"]["run_dir"])
        self.pages = self._pages(self.path)

    def unit(self) -> dict:
        return self._unit(self.pages)

    def _unit(self, pages: DataFrame) -> dict:
        """One timed unit: {"wall_s", "batches_s", "out"}."""
        cfg, run_dir = self.cfg, self._run_dir()
        t0 = time.perf_counter()
        tables = dedup_pipeline(pages, cfg, run_dir=run_dir)
        tables["clusters"].count()
        docs = tables["normalized"].where("NOT is_ambiguous").drop("is_ambiguous")
        spans = build_spans_table(
            docs, tables["clusters"].select("url", "cluster_id"),
            tables["ambiguous"], min_repeat_len=cfg.min_common_substring,
        ).localCheckpoint(eager=True)
        wall = time.perf_counter() - t0
        out = {"clusters": tables["clusters"], "spans": spans, "docs": docs,
               "ambiguous": tables["ambiguous"], "run_dir": run_dir}
        return {"wall_s": wall, "batches_s": [wall], "out": out}

    def traced_unit(self, tr: Tracer) -> dict:
        """The twin of ``unit``: plans/pipeline.py's stages, one span per
        layer call plus one ``checkpoint`` span per stage write."""
        cfg, pages, run_dir = self.cfg, self.pages, self._run_dir()
        ctx = RunContext(self.spark, run_dir, cfg.to_json())

        def ckpt(name: str, df: DataFrame) -> DataFrame:
            def thunk():
                out = ctx.write_stage(name, df)
                return out, out.count()
            return tr.run("checkpoint", thunk)

        t0 = time.perf_counter()
        normalized = ckpt("normalize", tr.materialize("text", lambda: pages.select(
            "url", "warc_ts", normalize_text(F.col("text")).alias("text"), "lang",
        ).withColumn(
            "is_ambiguous",
            F.col("text").isNull() | (F.length("text") < cfg.shingle_k),
        )))
        docs = normalized.where(~F.col("is_ambiguous")).drop("is_ambiguous")
        ambiguous = normalized.where(F.col("is_ambiguous"))

        sig_udf = make_doc_signature_udf(cfg)
        signatures = ckpt("signatures", tr.materialize("signatures", lambda: docs.select(
            "url", "warc_ts", content_key(F.col("text")).alias("content_hash"),
            sig_udf("text").alias("sig"),
        ).select(
            "url", "warc_ts", "content_hash",
            F.col("sig.n_shingles").alias("n_shingles"),
            F.col("sig.minhash").alias("minhash"),
            F.col("sig.simhash").alias("simhash"),
            F.col("sig.anchors").alias("anchors"),
        )))

        def canon_ids() -> DataFrame:
            return signatures.groupBy("content_hash").agg(
                F.min(F.struct("warc_ts", "url")).alias("_c"))

        # pipeline inline step: exact-edge star around each hash group's
        # canonical member
        exact_edges = ckpt("exact_edges", tr.materialize("pipeline", lambda: (
            signatures.select("content_hash", F.col("url").alias("id_b"))
            .join(canon_ids().select("content_hash", F.col("_c.url").alias("id_a")),
                  "content_hash")
            .where(F.col("id_a") != F.col("id_b")).select("id_a", "id_b")
        )))
        # pipeline inline step: one LSH representative per content hash
        reps = tr.materialize("pipeline", lambda: signatures.join(
            canon_ids().select(F.col("_c.url").alias("url")), "url", "leftsemi",
        ).select("url", "minhash"))
        lsh_pairs = ckpt("lsh_pairs", _lsh(tr, reps, cfg))

        verified = ckpt("verified", _verify(tr, lsh_pairs, signatures, cfg))
        dup_edges = verified.where("is_dup").select("id_a", "id_b")

        def substring() -> DataFrame:
            anchor_rows = signatures.select("url", F.explode("anchors").alias("anchor"))
            cand = pairs_from_anchor_rows(
                anchor_rows, max_bucket_size=cfg.anchor_df_cap,
                min_shared_anchors=cfg.min_shared_anchors, id_col="url",
            )
            todo = cand.join(exact_edges.union(dup_edges), ["id_a", "id_b"], "left_anti")
            return exact_substring_pairs(todo, docs, cfg.min_common_substring, id_col="url")

        substr = tr.materialize("suffix_array", substring)
        tr.add("suffix_array.pairs_checked", substr.count())
        tr.add("suffix_array.hits", substr.where("is_substring_dup").count())
        substr = ckpt("substring", substr)

        all_edges = exact_edges.union(dup_edges).union(
            substr.where("is_substring_dup").select("id_a", "id_b"))
        components = ckpt("components", tr.materialize(
            "connected_components",
            lambda: components_for_string_ids(all_edges, docs.select("url"), id_col="url"),
        ))

        def canonical() -> DataFrame:
            # pipeline inline step: canonical = min(warc_ts, url) per component
            labeled = components.join(docs.select("url", "warc_ts"), "url")
            canon = labeled.groupBy("cluster_key").agg(
                F.min(F.struct("warc_ts", "url")).alias("_c"),
                F.count(F.lit(1)).alias("cluster_size"),
            )
            return labeled.join(canon, "cluster_key").select(
                "url", F.col("_c.url").alias("cluster_id"), "cluster_size")

        clusters = ckpt("clusters", tr.materialize("pipeline", canonical))
        spans = tr.materialize("spans", lambda: build_spans_table(
            docs, clusters.select("url", "cluster_id"), ambiguous,
            min_repeat_len=cfg.min_common_substring,
        ))
        wall = time.perf_counter() - t0
        tr.add("checkpoint.write_mb", dir_stats(run_dir)[0])
        out = {"clusters": clusters, "spans": spans, "docs": docs,
               "ambiguous": ambiguous, "run_dir": run_dir}
        return {"wall_s": wall, "batches_s": [wall], "out": out}

    def check(self, out: dict) -> dict:
        """Planted-truth scores and the 4-way span tiling, as bench.py
        asserts it: all four kinds present, no gaps, span bytes == doc bytes."""
        rows = out["clusters"].select("url", "cluster_id").collect()
        res = truth_scores({r["url"]: r["cluster_id"] for r in rows}, self.corpus)
        spans = out["spans"]
        kind_bytes = {
            r["kind"]: int(r["b"]) for r in spans.groupBy("kind").agg(
                F.sum(F.col("end") - F.col("start")).alias("b")).collect()
        }
        all_docs = out["docs"].select("url", "text").unionByName(
            out["ambiguous"].select("url", "text"))
        gaps = coverage_gaps(spans.select("url", "start", "end"), all_docs).count()
        total = all_docs.agg(
            F.coalesce(F.sum(F.octet_length("text")), F.lit(0))).collect()[0][0]
        if set(kind_bytes) != SPAN_KINDS or min(kind_bytes.values()) <= 0:
            res["problems"].append(f"span kinds {kind_bytes}")
        if gaps:
            res["problems"].append(f"{gaps} span coverage gaps")
        if sum(kind_bytes.values()) != int(total):
            res["problems"].append(
                f"span bytes {sum(kind_bytes.values())} != doc bytes {total}")
        shutil.rmtree(out["run_dir"], ignore_errors=True)
        return res


class IncrementalDaily:
    """A base corpus ingested during set-up (which also warms the session),
    then daily batches through ``dedup_increment`` into one state dir that
    is never compacted. Each unit starts from a copy of the base state."""

    name = "incremental_daily"

    def __init__(self, spark: SparkSession, seed: int, work: str):
        self.spark, self.work, self.cfg = spark, work, DedupConfig()
        parts = gen.daily_batches(seed)
        self.corpus = gen.merged(parts)
        self.paths = [gen.write(p, os.path.join(work, "in", f"b{i}"))
                      for i, p in enumerate(parts)]
        n_base = gen.DAILY.base_calls
        self.docs = sum(len(p.rows) for p in parts[n_base:])
        self._n_base = n_base
        self.base_state = os.path.join(work, "state", "base")
        self._units = 0

    def setup(self) -> None:
        batches = [_load(self.spark, p["pages"], ["url", "text"]) for p in self.paths]
        for b in batches[:self._n_base]:
            dedup_increment(b, self.cfg, self.base_state)["clusters"].count()
        self.batches = batches[self._n_base:]

    def _state(self) -> str:
        self._units += 1
        state = os.path.join(self.work, "state", f"u{self._units}")
        shutil.copytree(self.base_state, state)
        return state

    def unit(self) -> dict:
        state = self._state()
        lat = []
        t0 = time.perf_counter()
        for b in self.batches:
            tb = time.perf_counter()
            res = dedup_increment(b, self.cfg, state)
            res["clusters"].count()
            lat.append(time.perf_counter() - tb)
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "batches_s": lat,
                "out": {"clusters": res["clusters"], "state": state}}

    def traced_unit(self, tr: Tracer) -> dict:
        """The twin of ``unit``: dedup_increment's steps, one span each,
        over a copy of the same base state."""
        cfg, state = self.cfg, self._state()
        with open(os.path.join(state, "manifest.json")) as f:
            version = json.load(f)["version"]

        def deltas(kind: str) -> list[str]:
            return [os.path.join(state, f"v{i}", kind) for i in range(version + 1)]

        sig_udf = make_doc_signature_udf(cfg)
        lat = []
        t0 = time.perf_counter()
        for b in self.batches:
            tb = time.perf_counter()
            norm = tr.materialize("text", lambda: b.select(
                "url", normalize_text(F.col("text")).alias("text")))
            new_sigs = tr.materialize("signatures", lambda: norm.select(
                "url", content_key(F.col("text")).alias("content_hash"),
                sig_udf("text").alias("sig"),
            ).select("url", "content_hash", F.col("sig.minhash").alias("minhash"),
                     F.col("sig.simhash").alias("simhash")))
            # incremental: the live state is the union of every delta
            all_sigs = tr.materialize("incremental", lambda: self.spark.read.parquet(
                *deltas("signatures")).unionByName(new_sigs))
            touched = band_buckets(new_sigs, cfg).select("band_id", "band_hash")
            cand = _lsh(tr, all_sigs, cfg, restrict_to=touched)
            near = _verify(tr, cand, all_sigs, cfg).where("is_dup").select("id_a", "id_b")

            def exact_star() -> DataFrame:
                # incremental inline step: exact-hash star over the hash
                # groups this batch touches
                grp = all_sigs.join(
                    new_sigs.select("content_hash").distinct(), "content_hash", "leftsemi")
                mins = grp.groupBy("content_hash").agg(F.min("url").alias("id_a"))
                exact = (grp.join(mins, "content_hash")
                         .where(F.col("url") != F.col("id_a"))
                         .select("id_a", F.col("url").alias("id_b")))
                return near.unionByName(exact)

            new_edges = tr.materialize("incremental", exact_star)
            edges = tr.materialize("incremental", lambda: new_edges.unionByName(
                self.spark.read.parquet(*deltas("edges"))).distinct())
            clusters = tr.materialize("connected_components", lambda: (
                components_for_string_ids(edges, all_sigs.select("url"), id_col="url")))

            version += 1
            vdir = os.path.join(state, f"v{version}")

            def write_delta():
                new_sigs.write.parquet(os.path.join(vdir, "signatures"))
                new_edges.write.parquet(os.path.join(vdir, "edges"))
                return None, 0

            tr.run("incremental", write_delta)
            lat.append(time.perf_counter() - tb)
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "batches_s": lat,
                "out": {"clusters": clusters, "state": state}}

    def check(self, out: dict) -> dict:
        rows = out["clusters"].select("url", "cluster_key").collect()
        res = truth_scores({r["url"]: r["cluster_key"] for r in rows}, self.corpus)
        if len(rows) != len(self.corpus.rows):
            res["problems"].append(
                f"{len(rows)} clustered docs != {len(self.corpus.rows)} ingested")
        res["state"] = out["state"]
        return res


WORKLOADS = {w.name: w for w in (PipelineDupheavy, IncrementalDaily)}
