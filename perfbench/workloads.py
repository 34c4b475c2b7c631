"""The workloads: inputs, the timed operation, its correctness check, and
the traced per-layer run.

A workload object is created per benchmark run. ``generate`` builds the
inputs from the seed in pure Python (no Spark); ``prepare`` writes them as
parquet under the run's work dir (the program reads only those); ``run`` is
the timed operation; ``check`` scores its output against the planted truth;
``traced`` calls every layer's public function in production order, each
under its own span.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyspark.sql.functions as F

import checks
import inputs
from tracing import MB, group_stages, stage_summary

from levenshtein_spark import kernel
from levenshtein_spark.functions.distance import noop
from levenshtein_spark.operators.blocking import exploded_blocks
from levenshtein_spark.operators.closest import min_edit_dist_t
from levenshtein_spark.operators.clustering import cluster_labels
from levenshtein_spark.operators.normalize import normalize
from levenshtein_spark.operators.pairs import attach_pair_payload, candidate_pairs
from levenshtein_spark.operators.scoring import edges as edges_of
from levenshtein_spark.operators.scoring import score_pairs
from levenshtein_spark.plans.linkage import LinkageConfig, run_linkage
from levenshtein_spark.plans.stages import stage_metrics
from levenshtein_spark.sources.tables import Warehouse

KERNEL_SAMPLE = 20_000
INPUT_FILES = 8
PAYLOAD_COLS = ["sha", "path_base", "content_prefix"]


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _write_parquet(pdf, path: str) -> int:
    """Write ``pdf`` as INPUT_FILES parquet files (one Spark input partition
    each); returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    cuts = np.linspace(0, len(pdf), INPUT_FILES + 1).astype(int)
    for i in range(INPUT_FILES):
        part = pdf.iloc[cuts[i] : cuts[i + 1]]
        part.to_parquet(os.path.join(path, f"part-{i:05d}.parquet"), index=False)
    return dir_bytes(path)


def spark_layer(tracer, sc, name: str, parent: int, fn) -> dict:
    """Run ``fn`` under a span named ``name``; return the layer's common
    metric set. ``fn`` returns the rows it produced, or None to take the
    rows its stages wrote."""
    with tracer.span(name, parent) as rec:
        rows = fn()
    stages = group_stages(sc, rec["group"])
    out = {"wall_s": tracer.wall(rec), **stage_summary(sc, stages)}
    out["rows_out"] = rows if rows is not None else sum(s.outputRecords() for s in stages)
    return out


def kernel_layer(tracer, parent: int, a: list, b: list, k: int) -> dict:
    """Driver-side kernel pass over a fixed sample with exit counters on."""
    kernel.enable_stats(True)
    try:
        with tracer.span("kernel", parent) as rec:
            kernel.batch_edit_distance(a, b, k=k)
        stats = kernel.stats_snapshot()
    finally:
        kernel.enable_stats(False)
    keep = ("exit_identical", "exit_ldiff", "hist_kills", "dp_pairs", "dp_cells")
    return {"wall_s": tracer.wall(rec), **{c: stats[c] for c in keep}}


class LinkInput:
    """One generated ``code_files`` table, as the program reads it, and its
    planted truth."""

    def __init__(self, spark, path: str, pdf, truth: dict):
        self.bytes = _write_parquet(pdf, path)
        self.source = spark.read.parquet(path)
        self.rows = len(pdf)
        self.truth = truth


class LinkWorkload:
    """``run_linkage`` over a generated ``code_files`` table."""

    sum_layers = ("normalize", "blocking", "pairs", "payload", "scoring", "clustering", "plans")
    # on the small input a fresh JVM's first operation runs ~1.7x slower
    # than the second, which is within ~10% of later ones
    warmup_ops = 2

    def generate(self, seed: int):
        """The measured input, and a small one from the same generator for
        warm-up: the first operations in a fresh JVM pay class loading, code
        generation and JIT compilation whatever the input size."""
        return inputs.link_batch(seed), inputs.link_batch(seed, clusters=inputs.WARMUP_CLUSTERS)

    def prepare(self, spark, work: str, generated) -> None:
        main, warm = generated
        self.work = work
        self.input = LinkInput(spark, os.path.join(work, "input", "main"), *main)
        self.warm_input = LinkInput(spark, os.path.join(work, "input", "warmup"), *warm)
        self.records = self.input.rows
        self.input_bytes = self.input.bytes

    def cfg(self, name: str) -> LinkageConfig:
        ck = os.path.join(self.work, "checkpoints", name)
        return LinkageConfig(checkpoint_dir=ck, force=True)

    def run(self, spark, name: str, warmup: bool = False):
        inp = self.warm_input if warmup else self.input
        cfg = self.cfg(name)
        return inp, cfg, run_linkage(spark, inp.source, cfg)

    def check(self, result) -> dict:
        inp, cfg, out = result
        labels = (
            out["normalized"].select("id", "commit")
            .join(out["clusters"], "id")
            .select("commit", "cluster_id")
            .collect()
        )
        predicted = {r.commit: r.cluster_id for r in labels}
        f1 = checks.pair_f1(predicted, inp.truth)
        ck_bytes = dir_bytes(cfg.checkpoint_dir)
        shutil.rmtree(cfg.checkpoint_dir)
        return {
            "accuracy": f1,
            "ok": f1 >= checks.F1_GATE,
            "fingerprint": checks.label_fingerprint(predicted),
            "checkpoint_bytes_per_input_byte": ck_bytes / inp.bytes,
            "stage_times": cfg.stage_times,
        }

    def verify(self, result) -> bool:
        """Nothing beyond ``check``: pair F1 against the planted clusters and
        run_linkage's own sha256 drift check cover a link run."""
        return True

    def traced(self, spark, tracer, root: int) -> tuple[dict, dict]:
        """The stages of ``run_linkage`` one layer at a time, each written
        through ``Warehouse.write``; payload attach, fused into scoring in
        production, is materialized as its own layer."""
        sc = spark.sparkContext
        cfg = self.cfg("traced")
        # the layer calls below mirror run_linkage's default branches only
        if cfg.collapse_clones or cfg.cluster_method != "cc":
            raise NotImplementedError(
                "traced run mirrors run_linkage with collapse_clones=False and "
                f"cluster_method='cc'; got {cfg.collapse_clones}, {cfg.cluster_method!r}"
            )
        wh = Warehouse(spark, cfg.checkpoint_dir)
        layers: dict = {}
        tables = {}

        def materialize(df, name):
            wh.write(df, name)
            tables[name] = wh.read(name)

        def layer(name, fn):
            layers[name] = spark_layer(tracer, sc, name, root, fn)

        source = self.input.source
        layer("normalize", lambda: materialize(normalize(source, cfg.prefix_len), "normalized"))
        layer("blocking", lambda: materialize(
            exploded_blocks(tables["normalized"], len_band=cfg.len_band), "blocks"))
        sizes = tables["blocks"].groupBy("block_key").count()
        census = sizes.agg(
            F.max("count").alias("max_rows"),
            F.sum((F.col("count") > cfg.hot_threshold).cast("int")).alias("hot"),
        ).first()
        layers["blocking"].update(max_block_rows=census.max_rows, hot_blocks=census.hot)

        layer("pairs", lambda: materialize(
            candidate_pairs(tables["blocks"], cfg.hot_threshold, cfg.num_salts,
                            adaptive_target_rows=cfg.adaptive_target_rows),
            "pairs"))
        pc = tables["pairs"].agg(F.count(F.lit(1)).alias("n"), F.sum("n_keys").alias("e")).first()
        layers["pairs"].update(emitted_rows=pc.e, dedup_ratio=pc.n / pc.e if pc.e else 1.0)

        layer("payload", lambda: materialize(
            attach_pair_payload(tables["pairs"], tables["normalized"], PAYLOAD_COLS), "payload"))
        fuzzy = tables["payload"].where(F.col("sha_a") != F.col("sha_b"))
        layer("arrow", lambda: materialize(
            fuzzy.select(noop("content_prefix_a", "content_prefix_b").alias("z"))
            .agg(F.sum("z").alias("z"), F.count(F.lit(1)).alias("n")), "arrow_floor"))
        layers["arrow"]["rows_out"] = tables["arrow_floor"].first().n
        sample = (
            fuzzy.select("id_a", "id_b", "content_prefix_a", "content_prefix_b")
            .orderBy("id_a", "id_b").limit(KERNEL_SAMPLE).collect()
        )
        layers["kernel"] = kernel_layer(
            tracer, root,
            [r.content_prefix_a for r in sample], [r.content_prefix_b for r in sample],
            cfg.k_content,
        )

        def scoring():
            materialize(score_pairs(tables["payload"], cfg.k_content, cfg.k_path,
                                    memoize=cfg.memoize_scoring), "scored")
            materialize(edges_of(tables["scored"]), "edges")

        layer("scoring", scoring)
        sc_counts = tables["scored"].agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("exact_dupe").cast("int")).alias("x")
        ).first()
        n_edges = tables["edges"].count()
        layers["scoring"].update(
            exact_share=(sc_counts.x or 0) / sc_counts.n if sc_counts.n else 0.0,
            match_yield=n_edges / sc_counts.n if sc_counts.n else 0.0,
        )

        stats: dict = {}
        layer("clustering", lambda: materialize(
            cluster_labels(tables["normalized"].select("id"), tables["edges"],
                           checkpoint_dir=f"{cfg.checkpoint_dir}/cc_rounds", stats=stats),
            "clusters"))
        layers["clustering"].update(
            rounds=stats["rounds"], edges_max_round=max(stats["edges_per_round"]))

        def plans():
            for name in ("normalized", "blocks", "pairs", "scored", "edges", "clusters"):
                wh.write(stage_metrics(tables[name], name), f"metrics_{name}")
            drift = (
                tables["normalized"].select("id", "sha")
                .join(normalize(source, cfg.prefix_len)
                      .select("id", F.col("sha").alias("sha2")), "id")
                .where(F.col("sha") != F.col("sha2")).count()
            )
            if drift:
                raise AssertionError(f"sha256 invariant violated for {drift} rows")

        layer("plans", plans)
        # the production run keeps no payload or Arrow-floor tables
        extra = sum(dir_bytes(os.path.join(cfg.checkpoint_dir, t)) for t in ("payload", "arrow_floor"))
        ck_bytes = dir_bytes(cfg.checkpoint_dir) - extra
        layers["plans"].update(
            checkpoint_mb=ck_bytes / MB,
            checkpoint_bytes_per_input_byte=ck_bytes / self.input_bytes,
        )
        result = self.check((self.input, cfg, tables))
        return layers, result


class ClosestWorkload:
    """``min_edit_dist_t`` of seeded probes against a candidate table."""

    sum_layers = ("closest",)
    # in a fresh JVM the first operation runs ~1.6x slower than later ones,
    # and walls keep falling by a few percent per operation for ~4 more
    warmup_ops = 4

    def generate(self, seed: int):
        return inputs.closest_match(seed)

    def prepare(self, spark, work: str, generated) -> None:
        cands, probes, self.planted = generated
        cpath = os.path.join(work, "input", "candidates")
        ppath = os.path.join(work, "input", "probes")
        self.input_bytes = _write_parquet(cands, cpath) + _write_parquet(probes, ppath)
        self.cands = spark.read.parquet(cpath)
        self.probes = spark.read.parquet(ppath)
        self.cand_list = cands["cand"].tolist()
        self.probe_list = probes["probe"].tolist()
        self.records = len(cands) * len(probes)

    def _query(self):
        return min_edit_dist_t(self.probes, self.cands, "probe", "cand", inputs.CLOSEST_K)

    def run(self, spark, name: str, warmup: bool = False):
        return self._query().collect()

    def check(self, rows) -> dict:
        answers = [(r.probe, r.cand, r.dist) for r in rows]
        acc = checks.probe_accuracy(answers, self.planted, inputs.CLOSEST_K)
        return {
            "accuracy": acc,
            "ok": acc == 1.0,
            "fingerprint": checks.answer_fingerprint(answers),
        }

    def verify(self, rows) -> bool:
        """No candidate is closer than the returned one, scored by the
        non-adaptive kernel; run once, since every operation must return
        the same answers."""
        return checks.answers_minimal(
            [(r.probe, r.dist) for r in rows], self.cand_list)

    def traced(self, spark, tracer, root: int) -> tuple[dict, dict]:
        sc = spark.sparkContext
        layers: dict = {}
        rows: list = []

        def closest():
            rows.extend(self._query().collect())
            return len(rows)

        layers["closest"] = spark_layer(tracer, sc, "closest", root, closest)
        crossing = self.cands.crossJoin(F.broadcast(self.probes))
        layers["arrow"] = spark_layer(tracer, sc, "arrow", root, lambda: crossing.select(
            noop("probe", "cand").alias("z")).agg(F.sum("z"), F.count(F.lit(1))).first()[1])
        # fixed sample: every stride-th pair of the probe x candidate product
        stride = max(1, len(self.cand_list) * len(self.probe_list) // KERNEL_SAMPLE)
        pairs = [(p, c) for p in self.probe_list for c in self.cand_list][::stride]
        layers["kernel"] = kernel_layer(
            tracer, root, [p for p, _ in pairs], [c for _, c in pairs], inputs.CLOSEST_K)
        return layers, self.check(rows)


WORKLOADS = {
    "link_batch": LinkWorkload,
    "closest_match": ClosestWorkload,
}
