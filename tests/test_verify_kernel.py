"""The decode tier's grouped PSNR kernel, called directly on Arrow
tables: one decode per member image, scores equal to pairwise PSNR
(and to the orientation-max loop under ``dihedral``), the G7 degrade
posture for bad payloads, and inner-join semantics for ids without a
payload row."""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pytest

from yadf_spark.fixtures import codec
from yadf_spark.operators import verify


def _tables(members: dict, pairs: list[tuple[str, str]]) -> tuple[pa.Table, pa.Table]:
    # the cogroup hands the kernel both sides' full rows, group key included
    left = pa.table(
        {
            "id_a": [a for a, _ in pairs],
            "_g": pa.array([7] * len(pairs), pa.int64()),
            "id_b": [b for _, b in pairs],
        }
    )
    right = pa.table(
        {
            "_g": pa.array([7] * len(members), pa.int64()),
            "id": list(members),
            "_bytes": pa.array(list(members.values()), pa.binary()),
        }
    )
    return left, right


def _scores(out: pa.Table) -> dict:
    return {
        (a, b): v
        for a, b, v in zip(
            out.column("id_a").to_pylist(),
            out.column("id_b").to_pylist(),
            out.column("psnr_db").to_pylist(),
        )
    }


def _family() -> dict:
    """An 8-image re-encode family of one 24x16 shot: the png original,
    lossy steps, a mirrored and a 90-rotated repost."""
    px = np.random.default_rng(11).integers(0, 256, (24, 16, 3), dtype=np.uint8)
    fam = {"f0": codec.encode_png(px), "f1": codec.encode_png(px)}
    for k, step in enumerate((2, 3, 4, 6), start=2):
        fam[f"f{k}"] = codec.encode_jpeg(px, step)
    fam["f6"] = codec.encode_jpeg(px[:, ::-1].copy(), 2)
    fam["f7"] = codec.encode_png(np.rot90(px).copy())
    return fam


@pytest.fixture
def decode_calls(monkeypatch):
    calls = []
    real = codec.decode_image

    def counting(payload):
        calls.append(payload)
        return real(payload)

    monkeypatch.setattr(codec, "decode_image", counting)
    return calls


def _orientation_max(a: np.ndarray, b: np.ndarray) -> float:
    """The per-pair D4 loop the grouped kernel replaced, verbatim."""
    tb = b.transpose(1, 0, 2)
    best = -1.0
    for t in (
        b, b[:, ::-1], b[::-1, :], b[::-1, ::-1],
        tb, tb[:, ::-1], tb[::-1, :], tb[::-1, ::-1],
    ):
        if t.shape == a.shape:
            v = codec.psnr(a, t)
            best = max(best, 1e9 if np.isinf(v) else float(v))
    return best


@pytest.mark.parametrize("dihedral", [False, True])
def test_family_decodes_once_per_member(decode_calls, dihedral):
    fam = _family()
    pairs = list(itertools.combinations(sorted(fam), 2))
    assert len(pairs) == 28
    out = verify._psnr_group(*_tables(fam, pairs), dihedral=dihedral)
    assert len(decode_calls) == 8, "each member must decode exactly once"
    got = _scores(out)
    assert set(got) == set(pairs)
    px = {k: codec.decode_fake(v) for k, v in fam.items()}
    for a, b in pairs:
        if dihedral:
            want = _orientation_max(px[a], px[b])
        else:
            v = codec.psnr(px[a], px[b])
            want = 1e9 if np.isinf(v) else v
        assert got[(a, b)] == want, (a, b)
    assert got[("f0", "f1")] == 1e9
    # the mirrored and rotated reposts verify only with the D4 max
    assert (got[("f0", "f6")] >= 40.0) is dihedral
    assert (got[("f0", "f7")] >= 40.0) is dihedral


def test_null_and_undecodable_payloads_score_minus_one():
    fam = _family()
    members = {"ok": fam["f0"], "null": None, "junk": b"YDFPnot-an-image", "alien": b"\x00" * 64}
    pairs = [("ok", "null"), ("null", "ok"), ("junk", "ok"), ("ok", "alien"), ("null", "junk")]
    got = _scores(verify._psnr_group(*_tables(members, pairs)))
    assert got == {p: -1.0 for p in pairs}


def test_pair_without_member_row_is_dropped(decode_calls):
    fam = _family()
    members = {"f0": fam["f0"], "f2": fam["f2"]}
    pairs = [("f0", "f2"), ("f0", "gone"), ("gone", "f2")]
    out = verify._psnr_group(*_tables(members, pairs))
    assert _scores(out).keys() == {("f0", "f2")}
    assert out.schema.names == ["id_a", "id_b", "psnr_db"]
    assert len(decode_calls) == 2


def test_empty_group_side_returns_empty_table():
    fam = _family()
    left, right = _tables({"f0": fam["f0"]}, [])
    out = verify._psnr_group(left, right)
    assert out.num_rows == 0 and out.schema.names == ["id_a", "id_b", "psnr_db"]
    left, right = _tables({}, [("f0", "f1")])
    assert verify._psnr_group(left, right).num_rows == 0
