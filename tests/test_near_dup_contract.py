"""operators/dedup.py: the one candidate-pair contract of the near-dup
family (pair rule, hot-key cap, pigeonhole banding) — the banding
precondition on every banded operator, input checks that hold under
``python -O``, and a source guard that no operator module restates the
pair join or the banding."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from python_openetl_spark.operators import dedup, multimodal

OPERATORS = pathlib.Path(__file__).resolve().parents[1] / "python_openetl_spark" / "operators"

# two 64-bit hashes one bit apart in each 16-bit band: hamming 4
NEAR = (0, 1 | 1 << 16 | 1 << 32 | 1 << 48)


def _banded_pairs(spark, op, max_hamming, num_bands):
    """(doc_a, doc_b) pairs of ``op`` over docs 1 and 2: identical texts
    for simhash, the two ``NEAR`` hashes as payloads for the media
    operators (the identity decoder reads a payload as its hash)."""
    docs = spark.createDataFrame(
        [(i, "the same words in both docs", h.to_bytes(8, "big")) for i, h in zip((1, 2), NEAR)],
        "doc_id long, text string, payload binary",
    )
    if op == "simhash_candidates":
        out = dedup.simhash_candidates(docs, max_hamming=max_hamming, num_bands=num_bands)
    elif op == "phash_near_dup_pairs":
        out = multimodal.phash_near_dup_pairs(
            docs, max_hamming=max_hamming, num_bands=num_bands, decoder=lambda b: b
        )
    else:
        out = multimodal.frame_phash_near_dup(
            docs, max_frame_hamming=max_hamming, num_bands=num_bands, decoder=lambda b: b
        )
    return {(r["doc_a"], r["doc_b"]) for r in out.collect()}


@pytest.mark.parametrize(
    "op", ["simhash_candidates", "phash_near_dup_pairs", "frame_phash_near_dup"]
)
def test_pigeonhole_banding_needs_more_bands_than_max_hamming(spark, op):
    """With max_hamming >= num_bands a pair within max_hamming can
    differ in every band, so the band join misses it: the NEAR pair
    came back empty at 4 bands and max_hamming 4. That now raises, and
    8 bands find the pair."""
    with pytest.raises(ValueError, match="num_bands"):
        _banded_pairs(spark, op, max_hamming=4, num_bands=4)
    assert _banded_pairs(spark, op, max_hamming=4, num_bands=8) == {(1, 2)}


def test_one_band_is_the_whole_64_bit_hash(spark):
    """``num_bands=1`` bands on the whole perceptual hash; its mask
    (2^64 - 1) did not fit a long literal and raised."""
    docs = spark.createDataFrame(
        [(1, b"same"), (2, b"same"), (3, b"other")], "doc_id long, payload binary"
    )
    got = multimodal.phash_near_dup_pairs(docs, max_hamming=0, num_bands=1).collect()
    assert {(r["doc_a"], r["doc_b"], r["hamming"]) for r in got} == {(1, 2, 0)}


@pytest.mark.parametrize("num_hashes, num_bands", [(16, 2), (12, 4), (2, 4)])
def test_band_packing_rejects_bad_rows_per_band(spark, num_hashes, num_bands):
    """An odd, zero or > 4 rows_per_band overflows or breaks the packed
    band keys; the check is a ValueError, not an assert that
    ``python -O`` strips."""
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="rows_per_band"):
        dedup.minhash_band_keys(docs, num_hashes=num_hashes, num_bands=num_bands)


def test_paragraph_dedup_rejects_nonpositive_para_tokens(spark):
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="para_tokens"):
        dedup.paragraph_dedup(docs, para_tokens=0)


def test_pair_join_and_banding_live_only_in_dedup_helpers():
    """The ``x.alias("a"), x.alias("b")`` key self-join appears under
    operators/ only in ``dedup._shared_key_pairs``, and ``shiftright(``
    only in ``dedup._hash_bands``."""
    patterns = {
        "self-join": re.compile(r'(\w+)\.alias\("a"\),\s*\1\.alias\("b"\)'),
        "banding": re.compile(r"shiftright\("),
    }
    found = {kind: [] for kind in patterns}
    for path in sorted(OPERATORS.glob("*.py")):
        src = path.read_text()
        funcs = [n for n in ast.walk(ast.parse(src)) if isinstance(n, ast.FunctionDef)]
        for kind, pattern in patterns.items():
            for m in pattern.finditer(src):
                line = src.count("\n", 0, m.start()) + 1
                owners = [f for f in funcs if f.lineno <= line <= f.end_lineno]
                inner = min(owners, key=lambda f: f.end_lineno - f.lineno, default=None)
                found[kind].append(f"{path.name}:{inner.name if inner else '<module>'}")
    assert found == {
        "self-join": ["dedup.py:_shared_key_pairs"],
        "banding": ["dedup.py:_hash_bands"],
    }
