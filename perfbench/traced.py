"""The traced run: the engine's layers called one by one, each tagged
with ``setJobDescription("bench:<layer>")`` and forced with an eager
``localCheckpoint``, so Spark's task metrics roll up per layer.

Spans (name, start, end, parent, run id) are kept in memory and written
out by the caller. A layer's wall time is its self time: span duration
minus the spans nested in it.
"""

from __future__ import annotations

import contextlib
import dataclasses
import inspect
import os
import time

from pyspark.sql import functions as F

from yadf_spark.config import Factor, NearDupConfig
from yadf_spark.operators import components, exact, minhash, verify
from yadf_spark.operators import pipeline as pl
from yadf_spark.plans.checkpoint import Checkpointer
from yadf_spark.sinks import formats as fmts
from yadf_spark.sources import corpus as src

LAYERS = ("sources", "exact", "pipeline", "minhash", "verify", "components", "checkpoint", "sinks")
#: instrumentation jobs (counts, bucket sizes) run under this tag so they
#: never land in a layer's rollup
PROBE = "probe"
DRIVER_THRESHOLD = inspect.signature(components.connected_components).parameters[
    "driver_threshold"
].default


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc, self.run_id = sc, run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.monotonic()

    def _tag(self) -> None:
        self.sc.setJobDescription(
            f"bench:{self.spans[self._stack[-1]]['name']}" if self._stack else None
        )

    @contextlib.contextmanager
    def span(self, name: str):
        span = {
            "name": name,
            "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic() - self._t0,
        }
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        self._tag()
        try:
            yield
        finally:
            span["end"] = time.monotonic() - self._t0
            self._stack.pop()
            self._tag()

    def forced(self, name: str, build):
        """Run ``build()`` inside span ``name`` and materialize it there."""
        with self.span(name):
            return build().localCheckpoint(eager=True)

    def count(self, df) -> int:
        with self.span(PROBE):
            return df.count()

    def probe_seconds(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == PROBE)

    def self_times(self) -> dict[str, float]:
        out = dict.fromkeys(LAYERS, 0.0)
        for i, s in enumerate(self.spans):
            if s["name"] not in out:
                continue
            nested = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == i)
            out[s["name"]] += s["end"] - s["start"] - nested
        return out


@dataclasses.dataclass
class TracingCheckpointer(Checkpointer):
    """Durable stages as the CLI's ``--checkpoint-dir`` runs them, with
    the stage body traced as its layer and the parquet write and re-read
    around it traced as ``checkpoint``."""

    tracer: Tracer | None = None
    layer_of: dict = dataclasses.field(default_factory=dict)
    outputs: dict = dataclasses.field(default_factory=dict)

    def stage(self, name, config, fn):
        def body():
            df = self.tracer.forced(self.layer_of[name], fn)
            self.outputs[name] = df
            return df

        with self.tracer.span("checkpoint"):
            return super().stage(name, config, body)


def _groups(clusters):
    """The CLI's groups view (``cli._clusters_to_groups``) at ``-r over:1``."""
    return (
        clusters.groupBy(F.col("cluster_id").alias("group_key"))
        .agg(F.sort_array(F.collect_list("image_id")).alias("members"), F.count("*").alias("n"))
        .filter(exact.factor_predicate(F.col("n"), Factor.over(1)))
    )


def _max_bucket(t: Tracer, *buckets) -> int:
    with t.span(PROBE):
        allb = buckets[0]
        for b in buckets[1:]:
            allb = allb.unionByName(b)
        row = allb.groupBy("band_idx", "band_hash").count().agg(F.max("count")).first()
    return int(row[0] or 0)


def _scan(t: Tracer, spark, path: str):
    return t.forced("sources", lambda: pl.prepare_images(src.table_corpus(spark, path)))


def traced_skew(spark, t: Tracer, inp: str, out: dict) -> dict:
    """``near_dup_pipeline``'s stages, called directly."""
    cfg = NearDupConfig()
    images = _scan(t, spark, os.path.join(inp, "table"))
    assignments = t.forced("exact", lambda: exact.exact_assignments(images))
    with t.span("pipeline"):
        reps = pl.collapse_to_representatives(images, assignments).localCheckpoint(eager=True)
        buckets = pl.candidate_buckets(reps, cfg).localCheckpoint(eager=True)
    candidates = t.forced(
        "minhash",
        lambda: minhash.candidate_pairs_from_buckets(
            buckets, cfg.lsh.salt_bucket_above, cfg.lsh.max_bucket
        ),
    )
    verified = t.forced(
        "verify",
        lambda: verify.verify_pairs(
            candidates, images, psnr_min_db=cfg.psnr_min_db, dihedral=cfg.flip_invariant
        ),
    )
    dup_edges = (
        verified.filter(F.col("verified")).select("id_a", "id_b").unionByName(pl.exact_edges(assignments))
    )
    clusters = t.forced(
        "components",
        lambda: components.clusters_with_singletons(
            images,
            components.connected_components(dup_edges, max_iterations=cfg.max_cc_iterations),
        ),
    )
    with t.span("sinks"):
        fmts.write_cluster_assignments(clusters, out["clusters"])
        fmts.write_lines(fmts.ldjson_lines(_groups(clusters)), out["groups"])

    n_rows, n_cand, n_ver = t.count(images), t.count(candidates), t.count(verified)
    n_clusters = t.count(clusters)
    edges = t.count(
        dup_edges.select(F.least("id_a", "id_b").alias("s"), F.greatest("id_a", "id_b").alias("d"))
        .filter(F.col("s") != F.col("d"))
    )
    return {
        "rows_out": {
            "sources": n_rows,
            "exact": t.count(assignments),
            "pipeline": t.count(buckets),
            "minhash": n_cand,
            "verify": n_ver,
            "components": n_clusters,
            "sinks": n_clusters,
        },
        "pipeline.collapse_ratio": t.count(reps) / n_rows,
        "minhash.max_bucket": _max_bucket(t, buckets),
        "verify.verified_ratio": t.count(verified.filter(F.col("verified"))) / n_cand,
        "verify.star_dropped": n_cand - n_ver,
        "components.edges": edges,
        "components.path": 1 if edges <= DRIVER_THRESHOLD else 2,
    }


def traced_gate(spark, t: Tracer, inp: str, out: dict) -> dict:
    """``near_dup_gate`` with a tracing Checkpointer and each side's
    ``candidate_buckets`` call traced as the pipeline layer."""
    history = os.path.join(inp, "history")
    batch = _scan(t, spark, os.path.join(inp, "batch"))
    hist = _scan(t, spark, history)
    ck = TracingCheckpointer(
        spark=spark,
        workdir=out["checkpoint"],
        tracer=t,
        layer_of={"gate_candidates": "minhash", "gate_verify": "verify"},
    )
    sides = []
    real = pl.candidate_buckets

    def traced_buckets(side, cfg):
        b = t.forced("pipeline", lambda: real(side, cfg))
        sides.append(b)
        return b

    pl.candidate_buckets = traced_buckets
    try:
        gate = pl.near_dup_gate(batch, hist, NearDupConfig(), checkpointer=ck, history_fingerprint=history)
    finally:
        pl.candidate_buckets = real
    vpairs = gate["verified_pairs"].filter(F.col("verified")).select("id_a", "id_b")
    clusters = vpairs.select(
        F.col("id_a").alias("cluster_id"), F.col("id_b").alias("image_id")
    ).unionByName(
        vpairs.select(F.col("id_a").alias("cluster_id"), F.col("id_a").alias("image_id")).distinct()
    )
    with t.span("sinks"):
        batch.join(gate["matched_ids"], "image_id", "left_anti").write.mode("overwrite").parquet(
            out["novel"]
        )
        fmts.write_cluster_assignments(clusters, out["clusters"])
        fmts.write_lines(fmts.ldjson_lines(_groups(clusters)), out["groups"])

    cand, ver = ck.outputs["gate_candidates"], ck.outputs["gate_verify"]
    n_cand, n_ver = t.count(cand), t.count(ver)
    return {
        "rows_out": {
            "sources": t.count(batch) + t.count(hist),
            "pipeline": sum(t.count(b) for b in sides),
            "minhash": n_cand,
            "verify": n_ver,
            "checkpoint": n_cand + n_ver,
            "sinks": t.count(clusters),
        },
        "pipeline.collapse_ratio": 1.0,
        "minhash.max_bucket": _max_bucket(t, *sides),
        "verify.verified_ratio": t.count(ver.filter(F.col("verified"))) / n_cand,
        "verify.star_dropped": n_cand - n_ver,
        "components.edges": 0,
        "components.path": 0,
    }


TRACED = {"skew": traced_skew, "gate": traced_gate}
