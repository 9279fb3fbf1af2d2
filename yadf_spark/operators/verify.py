"""Candidate-pair verification — the "trusted full hash" of the near-dup
pipeline (reference analog: the full-content hash stage, src/fs.rs:186-240;
hash inequality is exact proof of difference, so only same-looking pairs
pay the expensive comparison).

A pair is a verified duplicate iff
  * captions are equal, AND
  * decoded pixels match: identical, or PSNR >= 40 dB (lossy re-encode)
— the per-row invariant from BASELINE.json.input_hint.

The decode step is one cogrouped Arrow kernel per decode group: every
decode-tier pair is caption-equal, so its two ends share a group key,
and each group's Python call receives each member image's payload once
plus the id pairs to score. An image in k pairs of a group crosses the
Arrow boundary and decodes once, not k times — the reference's rule of
hashing each distinct member of a size bucket once (src/fs.rs:42-262).
In this container the codec is the deterministic fake from
``yadf_spark.fixtures.codec`` (Pillow is tried first and absent); the
Spark-side plumbing — only id pairs shuffle, payloads attach behind an
id-bounded broadcast semi-join, null-safe fallback — is the real design.
"""

from __future__ import annotations

import functools

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType


def _psnr_group(pairs: pa.Table, members: pa.Table, dihedral: bool = False) -> pa.Table:
    """Score one decode group: ``members`` holds each image's payload once
    (``id``, ``_bytes``), ``pairs`` the ``(id_a, id_b)`` pairs to score.
    Every member decodes once; returns ``(id_a, id_b, psnr_db)``.

    PSNR in dB, inf -> 1e9 (identical); a null or undecodable payload
    scores -1.0 (never verifies); a pair whose id has no member row is
    dropped, as an inner payload join would drop it. ``dihedral=True``
    scores orientation-max PSNR: the best PSNR of ``a`` against ``b``'s
    eight dihedral-group (D4) transforms — identity, mirror, vertical
    flip, 180-rotation, transpose, 90/270-rotation, anti-transpose — so
    a mirrored OR rotated re-encode of the same shot scores as the
    re-encode it is. The seven extra orientations are numpy views, and
    the shape guard skips the rot90 family for free on non-square pairs
    whose dims can't match (a 90-rotated repost of a non-square image has
    swapped w/h, which the guard matches against ``a``'s own shape).
    Imports sit inside so executors resolve the codec through their own
    PYTHONPATH."""
    import numpy as np

    from yadf_spark.fixtures.codec import decode_image, psnr

    decoded = {}
    for i, payload in zip(members.column("id").to_pylist(), members.column("_bytes").to_pylist()):
        try:
            decoded[i] = None if payload is None else decode_image(payload)
        except Exception:
            # G7 analog (src/fs.rs:242-262): unreadable content degrades
            # to "not verified", never fails the job.
            decoded[i] = None

    def score(x, y) -> float:
        if x is None or y is None:
            return -1.0
        try:
            views = (y,)
            if dihedral:
                ty = y.transpose(1, 0, 2)
                views = [
                    t
                    for t in (
                        y, y[:, ::-1], y[::-1, :], y[::-1, ::-1],
                        ty, ty[:, ::-1], ty[::-1, :], ty[::-1, ::-1],
                    )
                    if t.shape == x.shape
                ]
            best = -1.0
            for t in views:
                v = psnr(x, t)
                best = max(best, 1e9 if np.isinf(v) else float(v))
            return best
        except Exception:
            return -1.0

    keep, out = [], []
    ids = zip(pairs.column("id_a").to_pylist(), pairs.column("id_b").to_pylist())
    for k, (a, b) in enumerate(ids):
        if a in decoded and b in decoded:
            keep.append(k)
            out.append(score(decoded[a], decoded[b]))
    kept = pairs.select(["id_a", "id_b"]).take(pa.array(keep, pa.int64()))
    return kept.append_column("psnr_db", pa.array(out, pa.float64()))


def _decode_groups(
    narrow: DataFrame,
    images: DataFrame,
    id_col: str,
    caption_col: str,
    star_caption_groups_above: int,
    dihedral: bool,
) -> DataFrame:
    """The decode tier's ``(_g, id_a, id_b)`` pairs: the caption-equal,
    bytes-different pairs of ``narrow``, keyed by their decode group
    ``_g``. Eagerly checkpointed with exactly these three columns: the
    three plan branches that read it (the cogroup's pairs, its members,
    the member-id broadcast) then share one exchange on ``_g`` — Spark
    reuses an exchange only over identical subtrees."""
    raw_decode = narrow.filter(F.col("caption_equal") & ~F.col("bytes_equal")).select(
        F.col("cap_a").alias("_g"), "id_a", "id_b"
    )

    # Viral-caption guard: a caption shared by n images yields O(n^2)
    # caption-equal/bytes-different pairs, each demanding a pixel decode
    # — the one cost salting can't cap (it parallelizes the join, not
    # the decode count). Caption groups above the threshold switch to
    # STAR verification per (caption, phash) subgroup: phash is designed
    # to survive lossy re-encoding, so a visual family inside the mega
    # group shares a phash and its members are scored once each against
    # the subgroup's min-id representative (n pairs, not n^2); star edges
    # are exactly what connected components needs. Cross-phash pairs
    # inside a mega caption group are dropped — phash inequality is
    # itself strong not-a-re-encode evidence, the same documented recall
    # trade as the LSH max_bucket cap. Requires a ``phash`` column;
    # corpora without one keep exact pairwise verification throughout,
    # grouped by caption (a caption group then decodes once per member,
    # however large it is).
    if "phash" not in images.columns:
        return raw_decode.localCheckpoint(eager=True)
    caps = images.select(
        F.col(id_col).alias("id"),
        F.xxhash64(F.col(caption_col)).alias("cap_h"),
        F.col("phash").alias("_ph"),
    )
    if dihedral:
        from yadf_spark.operators.multimodal import with_canonical_phash

        caps = (
            with_canonical_phash(caps, "_ph", out_col="_cph")
            .drop("_ph")
            .withColumnRenamed("_cph", "_ph")
        )
    decode_ids_all = (
        raw_decode.select(F.col("id_a").alias("id"))
        .unionByName(raw_decode.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # three consumers (big_caps, sub_reps, star_pairs) over a small
    # id-bounded frame — eager checkpoint for the same no-leak reason
    id_caps = caps.join(F.broadcast(decode_ids_all), "id", "left_semi").localCheckpoint(
        eager=True
    )
    big_caps = (
        id_caps.groupBy("cap_h")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > star_caption_groups_above)
        .select("cap_h")
    )
    sub_reps = (
        id_caps.join(F.broadcast(big_caps), "cap_h")
        .groupBy("cap_h", "_ph")
        .agg(F.min("id").alias("rep"), F.count("*").alias("_n"))
    )
    # A viral subgroup must not land in one Python group: its members
    # split into hash chunks of about star_caption_groups_above each on
    # the member id, and the representative joins every chunk (it
    # decodes once per chunk, each member once). rep is the subgroup's
    # min id, so (rep, id) is already (least, greatest).
    chunk = F.pmod(
        F.xxhash64("id"), F.ceil(F.col("_n") / F.lit(max(star_caption_groups_above, 1)))
    )
    star_pairs = (
        id_caps.join(F.broadcast(big_caps), "cap_h")
        .join(sub_reps, ["cap_h", "_ph"])
        .filter(F.col("id") != F.col("rep"))
        .select(
            F.xxhash64("cap_h", "_ph", chunk).alias("_g"),
            F.col("rep").alias("id_a"),
            F.col("id").alias("id_b"),
        )
    )
    big_ids = id_caps.join(F.broadcast(big_caps), "cap_h", "left_semi").select("id")
    small_pairs = raw_decode.join(
        F.broadcast(big_ids.withColumnRenamed("id", "id_a")), "id_a", "left_anti"
    )
    # a star pair can coincide with a bytes-equal CANDIDATE pair
    # (x<y<z, same caption, bytes(x)==bytes(y)!=bytes(z), x the
    # subgroup rep): the trivial branch already emits it, so re-decoding
    # it here would duplicate the output row — anti-join the (small)
    # star frame against bytes-equal candidates whose ends are both in
    # the mega groups
    dup_risk = (
        narrow.filter(F.col("bytes_equal") & F.col("caption_equal"))
        .join(F.broadcast(big_ids.withColumnRenamed("id", "id_a")), "id_a", "left_semi")
        .join(F.broadcast(big_ids.withColumnRenamed("id", "id_b")), "id_b", "left_semi")
        .select("id_a", "id_b")
    )
    star_pairs = star_pairs.join(dup_risk, ["id_a", "id_b"], "left_anti")
    return small_pairs.unionByName(star_pairs).localCheckpoint(eager=True)


def verify_pairs(
    pairs: DataFrame,
    images: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    caption_col: str = "caption",
    psnr_min_db: float = 40.0,
    star_caption_groups_above: int = 64,
    dihedral: bool = False,
) -> DataFrame:
    """(id_a, id_b) -> verified pairs with evidence columns.

    ``dihedral=True`` verifies mirrored/rotated re-encodes too: the
    decode tier scores orientation-max PSNR, and the viral-caption star
    subgroups key on the CANONICAL dihedral phash (so a mirrored copy
    inside a mega caption group lands in its original's subgroup
    instead of being dropped as cross-phash).

    Two-tier evaluation so payload bytes NEVER cross a shuffle (O6):

    1. narrow tier — every candidate pair joins only ``(caption_hash,
       content_hash)`` per side (~16 bytes/row). Caption equality and
       byte equality are decided on hashes (hash equality is trusted,
       exactly like the reference's full-content hash verdict,
       src/fs.rs:186-240).
    2. decode tier — only pairs with equal captions but unequal bytes
       (the lossy re-encode candidates, typically a tiny fraction) are
       decoded. Both ends of such a pair share a caption, so the pairs
       are keyed by a decode group — the caption hash, or for a viral
       caption's star subgroup one hash chunk of about
       ``star_caption_groups_above`` members plus the representative —
       and only the id pairs shuffle, on that key. The member set of
       each group is derived after the exchange, its payloads attach
       behind a broadcast semi-join on the member ids, and one
       cogrouped Arrow kernel per group decodes each member once and
       scores the group's pairs. An image in k pairs of one group
       crosses into Python and decodes once, not k times.

    The previous single-tier design shuffled every candidate's binary
    payload through two sort-merge joins; at 100k fixture images that
    shuffle dominated the stage and halved its core-scaling efficiency.
    """
    # consumers: narrow join + decode-id set. Eager localCheckpoint, not
    # persist: blocks are freed by the context cleaner when the frame is
    # collected — no unpersist() obligation a library caller never gets
    # to honor (a persisted frame would pin executor storage for the
    # session's lifetime; same rationale as exact.exact_assignments).
    # Durability trade, deliberately: checkpoint blocks die with their
    # executor and lineage is truncated, so an executor loss mid-job
    # fails the JOB instead of recomputing — on clusters with executor
    # churn the pipeline Checkpointer's durable workdir stages bound the
    # blast radius to one stage re-run (see SCALE.md stage 6).
    pairs = pairs.localCheckpoint(eager=True)
    # a NULL payload must never hash-compare equal: xxhash64 leaves the
    # seed untouched for null input, so xxhash64(NULL) == xxhash64(NULL)
    # would claim two fetch-failed rows are byte-identical. Null hash →
    # null equality → coalesced to "not equal" below, routing the pair
    # to the decode tier, whose kernel already returns -1.0 (never
    # verifies) for null payloads — the G7 degrade posture end to end.
    feats = images.select(
        F.col(id_col).alias("id"),
        F.xxhash64(F.col(caption_col)).alias("_cap_h"),
        F.when(F.col(bytes_col).isNotNull(), F.xxhash64(F.col(bytes_col))).alias("_byte_h"),
    )
    a = feats.select(F.col("id").alias("id_a"), F.col("_cap_h").alias("cap_a"), F.col("_byte_h").alias("bh_a"))
    b = feats.select(F.col("id").alias("id_b"), F.col("_cap_h").alias("cap_b"), F.col("_byte_h").alias("bh_b"))
    narrow = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "cap_a",
            (F.col("cap_a") == F.col("cap_b")).alias("caption_equal"),
            F.coalesce(F.col("bh_a") == F.col("bh_b"), F.lit(False)).alias("bytes_equal"),
        )
        # materialize NOW (eager checkpoint): the broadcast build below
        # runs on a driver thread concurrently with the main job, and an
        # unmaterialized frame would make it recompute the candidate DAG
        # in parallel with the main branches computing it again; blocks
        # are context-cleaner-freed, unlike a leaked persist()
        .localCheckpoint(eager=True)
    )
    groups = _decode_groups(
        narrow, images, id_col, caption_col, star_caption_groups_above, dihedral
    ).repartition("_g")
    # the member rows keep the pairs' one exchange: explode keeps the _g
    # partitioning, which the (_g, id) distinct accepts, and a LEFT join
    # can only broadcast its payload side (every member has an images
    # row: narrow joined both pair ends onto images). The alias gives
    # this side of the cogroup its own _g attribute.
    members = groups.select(
        F.col("_g").alias("_g"), F.explode(F.array("id_a", "id_b")).alias("id")
    ).distinct()
    payloads = images.select(F.col(id_col).alias("id"), F.col(bytes_col).alias("_bytes")).join(
        F.broadcast(members.select("id")), "id", "left_semi"
    )
    id_type = groups.schema["id_a"].dataType
    decoded = (
        groups.groupBy("_g")
        .cogroup(members.join(payloads, "id", "left").groupBy("_g"))
        .applyInArrow(
            functools.partial(_psnr_group, dihedral=dihedral),
            StructType(
                [
                    StructField("id_a", id_type),
                    StructField("id_b", id_type),
                    StructField("psnr_db", DoubleType()),
                ]
            ),
        )
        # every decode-tier pair is caption-equal by construction
        .select("id_a", "id_b", F.lit(True).alias("caption_equal"), "psnr_db")
    )
    need_decode = F.col("caption_equal") & ~F.col("bytes_equal")
    trivial = narrow.filter(~need_decode).select(
        "id_a",
        "id_b",
        "caption_equal",
        F.when(F.col("bytes_equal"), F.lit(1e9)).otherwise(F.lit(-1.0)).alias("psnr_db"),
    )
    scored = decoded.unionByName(trivial)
    return scored.select(
        "id_a",
        "id_b",
        "caption_equal",
        "psnr_db",
        (F.col("caption_equal") & (F.col("psnr_db") >= psnr_min_db)).alias("verified"),
    )
