"""Seeded benchmark inputs with planted truth, cached on disk.

Every table is a pure function of (workload, seed, size) and is built on
top of ``yadf_spark.fixtures.images`` (the planted corpus) and
``yadf_spark.fixtures.codec`` (the stand-in image codec). Tables are
written with pyarrow as a fixed number of parquet parts, rows shuffled
by the seed, so the engine sees the same layout on every host. Truth is
written alongside as ``truth.parquet``.

A cache entry is a directory named after (workload, seed, size) and a
digest of the generator code; ``meta.json`` is written last, so a
directory without it is an interrupted build and is rebuilt.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from yadf_spark.fixtures import codec
from yadf_spark.fixtures import images as fx

#: parquet parts per table: fixed, so scan splits do not depend on the host
PARTS = 8
#: the lossy steps of one re-encode family: each step stays above the
#: 40 dB verification bar against the png original
FAMILY_STEPS = (2, 3, 4, 5, 6, 7, 8)
#: height and width of every image the skew mix adds to the fixture rows
SIDE = 40
BOILERPLATE_CAPTION = "stock photo royalty free image download hd wallpaper"
#: truth population of each planted fixture row kind, so the output
#: check can name the population a wrong cluster touches
FIXTURE_POPULATIONS = {
    "dup": "fixture_dup",
    "near_png": "fixture_near",
    "near_jpg": "fixture_near",
    "contain_a": "fixture_contain",
    "contain_b": "fixture_contain",
    "decoy_a": "fixture_decoy",
    "decoy_b": "fixture_decoy",
    "unique": "fixture_unique",
}

SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)


def _row(image_id: str, pixels: np.ndarray, caption: str, step: int | None) -> dict:
    payload = codec.encode_png(pixels) if step is None else codec.encode_jpeg(pixels, step)
    h, w, _ = pixels.shape
    return {
        "image_id": image_id,
        "bytes": payload,
        "w": w,
        "h": h,
        "fmt": "png" if step is None else "jpeg",
        "caption": caption,
        "phash": codec.perceptual_hash(codec.decode_fake(payload)),
    }


def _random_pixels(rng: np.random.Generator) -> np.ndarray:
    # one fixed size: the few hundred planted images then carry the same
    # byte volume under every seed (the fixture rows average out)
    return rng.integers(0, 256, size=(SIDE, SIDE, 3), dtype=np.uint8)


def _random_caption(rng: np.random.Generator) -> str:
    """5 to 30 words of the fixture's vocabulary."""
    return " ".join(f"word{w:03d}" for w in rng.integers(0, 200, int(rng.integers(5, 31))))


def _frame(rows) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=SCHEMA.names)


def _write_table(pdf: pd.DataFrame, path: str, rng: np.random.Generator) -> None:
    pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    table = pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False)
    os.makedirs(path)
    for k, part in enumerate(np.array_split(np.arange(len(pdf)), PARTS)):
        pq.write_table(table.take(part), os.path.join(path, f"part-{k:05d}.parquet"))


def _copy_of(src: pd.Series, image_id: str) -> dict:
    row = src.to_dict()
    row["image_id"] = image_id
    return row


def build_skew(out: str, seed: int, size: dict) -> dict:
    """Web-shaped skew mix: planted fixture rows, a few new images with
    many exact copies each, re-encode families (one png plus the
    ``FAMILY_STEPS`` lossy jpegs, one shared caption) and distinct images
    sharing one boilerplate caption. Truth labels every row with its
    true cluster and its population."""
    rng = np.random.default_rng([seed, 1])
    base = fx.images_pdf(size["fixture_rows"], seed=seed)
    fixture_truth = fx.truth_pdf(len(base))
    fixture_truth["population"] = [
        FIXTURE_POPULATIONS[fx.plan_row(i).kind] for i in range(len(base))
    ]
    truth = [fixture_truth]

    copies, copy_truth = [], []
    for g in range(size["copy_groups"]):
        caption = _random_caption(rng)
        row = _row(f"cp-{g:03d}-00000", _random_pixels(rng), caption, None)
        for k in range(size["copies_per_group"]):
            copies.append({**row, "image_id": f"cp-{g:03d}-{k:05d}"})
            copy_truth.append((f"cp-{g:03d}-{k:05d}", f"cp-{g}", "copies"))

    family, family_truth = [], []
    for f in range(size["families"]):
        pixels = _random_pixels(rng)
        caption = _random_caption(rng)
        png = codec.decode_fake(codec.encode_png(pixels))
        for j, step in enumerate((None, *FAMILY_STEPS)):
            row = _row(f"fam-{f:05d}-{j}", pixels, caption, step)
            if step is not None and codec.psnr(png, codec.decode_fake(row["bytes"])) < 40.0:
                raise RuntimeError(f"family {f} step {step} falls below the 40 dB bar")
            family.append(row)
            family_truth.append((row["image_id"], f"fam-{f}", "families"))

    boiler, seen = [], set()
    while len(boiler) < size["boilerplate"]:
        row = _row(f"bp-{len(boiler):05d}", _random_pixels(rng), BOILERPLATE_CAPTION, None)
        if row["phash"] not in seen:  # distinct phash: no star-tier subgroup forms
            seen.add(row["phash"])
            boiler.append(row)

    table = pd.concat([base, _frame(copies), _frame(family), _frame(boiler)], ignore_index=True)
    truth.append(
        pd.DataFrame(copy_truth + family_truth, columns=["image_id", "true_cluster", "population"])
    )
    truth.append(pd.DataFrame({"image_id": [r["image_id"] for r in boiler]}).assign(
        true_cluster=lambda d: d["image_id"], population="boilerplate"
    ))
    truth_pdf = pd.concat(truth, ignore_index=True)
    _write_table(table, os.path.join(out, "table"), rng)
    truth_pdf.to_parquet(os.path.join(out, "truth.parquet"), index=False)
    # the collapse keeps one representative per (bytes, caption, phash) class
    return {
        "rows": len(table),
        "representatives": int(table[["bytes", "caption", "phash"]].drop_duplicates().shape[0]),
    }


def build_gate(out: str, seed: int, size: dict) -> dict:
    """Ingest gate: a planted history table and a batch of exact copies
    of history rows, lossy re-encodes of history rows and novel rows."""
    rng = np.random.default_rng([seed, 2])
    n_hist = size["history_rows"]
    if n_hist % fx.BLOCK:
        # a planted block straddling history and batch would plant
        # batch rows that duplicate history rows outside the truth
        raise ValueError(f"history_rows must be a multiple of {fx.BLOCK}")
    hist = fx.images_pdf(n_hist + size["novel"], seed=seed)
    history, novel = hist.iloc[:n_hist], hist.iloc[n_hist:]
    picks = rng.choice(n_hist, size["copies"] + size["reencodes"], replace=False)
    batch, truth = [], []
    for k, i in enumerate(picks[: size["copies"]]):
        batch.append(_copy_of(history.iloc[i], f"cp-{k:05d}"))
        truth.append((f"cp-{k:05d}", "copy", history.iloc[i]["image_id"]))
    for k, i in enumerate(picks[size["copies"]:]):
        src = history.iloc[i]
        pixels = codec.decode_fake(src["bytes"])
        step = int(rng.integers(2, 5))
        batch.append(_row(f"re-{k:05d}", pixels, src["caption"], step))
        truth.append((f"re-{k:05d}", "reencode", src["image_id"]))
    truth += [(i, "novel", None) for i in novel["image_id"]]
    _write_table(history.reset_index(drop=True), os.path.join(out, "history"), rng)
    _write_table(
        pd.concat([_frame(batch), novel], ignore_index=True), os.path.join(out, "batch"), rng
    )
    pd.DataFrame(truth, columns=["image_id", "role", "source_id"]).to_parquet(
        os.path.join(out, "truth.parquet"), index=False
    )
    return {"rows": n_hist + len(batch) + len(novel)}


BUILDERS = {"skew": build_skew, "gate": build_gate}


def _generator_digest() -> str:
    """Digest of the code that makes the inputs, so an entry built by
    other generator code is never reused."""
    h = hashlib.sha256()
    for mod in (sys.modules[__name__], fx, codec):
        with open(mod.__file__, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def ensure(cache_root: str, workload: str, kind: str, seed: int, size: dict) -> tuple[str, dict]:
    """Return ``(directory, meta)`` for the cached input, building it on
    a miss."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    path = os.path.join(cache_root, f"{workload}-seed{seed}-{tag}-{_generator_digest()}")
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return path, json.load(fh)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    meta = BUILDERS[kind](path, seed, size)
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    return path, meta
