"""Output checks against planted truth, read back from what the engine
wrote (pyarrow only, no Spark job). Each check returns
``(quality, failures)``: ``quality`` holds recall and precision,
``failures`` names every violated expectation."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pyarrow.parquet as pq

def _pairs(sizes: pd.Series) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


def _read_ids(path: str, cols: list[str]) -> pd.DataFrame:
    return pq.read_table(path, columns=cols).to_pandas()


def _group_lines(path: str) -> int:
    n = 0
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part) as fh:
            n += sum(1 for line in fh if line.strip())
    return n


def check_clusters(outputs: dict, truth: pd.DataFrame) -> tuple[dict, list[str]]:
    """Self-clustering run: every truth id assigned exactly once, and the
    emitted clusters equal the truth's clusters exactly.

    The check is per population, not a pair-count bar: the exact-copy
    groups hold almost all truth pairs, so a bar on pair recall would
    pass a run that merged every decoy or lost every near-dup. A row is
    *split* when its true cluster spreads over several emitted clusters
    and *merged* when its emitted cluster holds another true cluster;
    the partition is exact when no row is either. Pair recall and
    precision are reported alongside."""
    got = _read_ids(outputs["clusters"], ["image_id", "cluster_id"])
    failures = []
    if got["image_id"].duplicated().any():
        failures.append("clusters: an image_id is assigned twice")
    if set(got["image_id"]) != set(truth["image_id"]):
        failures.append("clusters: assigned ids differ from the input ids")
    cells = got.merge(truth, on="image_id")
    truth_pairs = _pairs(truth.groupby("true_cluster").size())
    emitted = _pairs(got.groupby("cluster_id").size())
    correct = _pairs(cells.groupby(["cluster_id", "true_cluster"]).size())
    quality = {
        "recall": correct / truth_pairs if truth_pairs else 1.0,
        "precision": correct / emitted if emitted else 1.0,
    }
    cell = cells.groupby(["cluster_id", "true_cluster"])["image_id"].transform("size")
    cells["split"] = cell < cells.groupby("true_cluster")["image_id"].transform("size")
    cells["merged"] = cell < cells.groupby("cluster_id")["image_id"].transform("size")
    wrong = cells.groupby("population")[["split", "merged"]].sum()
    for population, row in wrong[(wrong["split"] > 0) | (wrong["merged"] > 0)].iterrows():
        failures.append(
            f"clusters: {population}: {row['split']} rows split from their true cluster, "
            f"{row['merged']} rows merged with another"
        )
    multi = int((got.groupby("cluster_id").size() > 1).sum())
    lines = _group_lines(outputs["groups"])
    if lines != multi:
        failures.append(f"groups: {lines} output lines for {multi} duplicate clusters")
    return quality, failures


def check_gate(outputs: dict, truth: pd.DataFrame) -> tuple[dict, list[str]]:
    """Ingest gate: the matched batch rows are exactly the planted copies
    and re-encodes, each matched to its source history row, and the
    novel table holds exactly the novel rows."""
    groups = _read_ids(outputs["clusters"], ["image_id", "cluster_id"])
    novel = set(_read_ids(outputs["novel"], ["image_id"])["image_id"])
    planted = truth[truth["role"] != "novel"]
    want_matched = set(planted["image_id"])
    matched = set(groups["cluster_id"])
    hits = len(matched & want_matched)
    quality = {
        "recall": hits / len(want_matched),
        "precision": hits / len(matched) if matched else 1.0,
    }
    failures = []
    if matched != want_matched:
        failures.append(
            f"gate: {len(want_matched - matched)} planted rows unmatched, "
            f"{len(matched - want_matched)} rows matched that were not planted"
        )
    want_novel = set(truth.loc[truth["role"] == "novel", "image_id"])
    if novel != want_novel:
        failures.append(
            f"gate: novel table misses {len(want_novel - novel)} novel rows "
            f"and holds {len(novel - want_novel)} others"
        )
    pairs = set(zip(groups["cluster_id"], groups["image_id"]))
    lost = sum((b, h) not in pairs for b, h in zip(planted["image_id"], planted["source_id"]))
    if lost:
        failures.append(f"gate: {lost} planted rows not grouped with their source row")
    lines = _group_lines(outputs["groups"])
    if lines != len(matched):
        failures.append(f"groups: {lines} output lines for {len(matched)} matched rows")
    return quality, failures


CHECKS = {"skew": check_clusters, "gate": check_gate}
