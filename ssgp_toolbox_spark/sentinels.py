"""In-band sentinel convention and shared numpy mask kernels.

The reference encodes pixel validity with three in-band float
sentinels (reference gapfiller.py:805, default ``key_values`` dict)
instead of NULLs:

- ``GAP``    (-100.0): cloud-covered, *to be filled*;
- ``SKIP``   (-200.0): permanently invalid (sea water), never filled;
- ``NODATA`` (-32768.0): outside extent / projection error.

Everything else is a valid physical value. These interact with every
operator (SURVEY.md §1.1.4), so the masks live here, in one place,
shared by UDF kernels and the generator.
"""

from __future__ import annotations

import numpy as np

GAP: float = -100.0
SKIP: float = -200.0
NODATA: float = -32768.0

SENTINELS: dict[str, float] = {"gap": GAP, "skip": SKIP, "NoData": NODATA}


def is_gap(a: np.ndarray, gap: float = GAP) -> np.ndarray:
    return a == gap


def is_skip(a: np.ndarray, skip: float = SKIP) -> np.ndarray:
    return a == skip


def is_nodata(a: np.ndarray, nodata: float = NODATA) -> np.ndarray:
    return a == nodata


def is_invalid(
    a: np.ndarray, gap: float = GAP, skip: float = SKIP, nodata: float = NODATA
) -> np.ndarray:
    """gap | skip | NoData (reference gapfiller.py:99-104 counts these)."""
    return (a == gap) | (a == skip) | (a == nodata)


def is_valid(
    a: np.ndarray, gap: float = GAP, skip: float = SKIP, nodata: float = NODATA
) -> np.ndarray:
    return ~is_invalid(a, gap, skip, nodata)


def sentinel_stats(
    a: np.ndarray, gap: float = GAP, skip: float = SKIP, nodata: float = NODATA
) -> dict[str, int]:
    """Per-image sentinel counts (reference gapfiller.py:102-104, 858-863).

    Returned keys feed the stats columns used for predicate pushdown:
    ``gap_count``, ``skip_count``, ``nodata_count``, ``valid_px``.
    """
    gap_count = int((a == gap).sum())
    skip_count = int((a == skip).sum())
    nodata_count = int((a == nodata).sum())
    return {
        "gap_count": gap_count,
        "skip_count": skip_count,
        "nodata_count": nodata_count,
        "valid_px": int(a.size - gap_count - skip_count - nodata_count),
    }


def nanify(
    a: np.ndarray, gap: float = GAP, skip: float = SKIP, nodata: float = NODATA
) -> np.ndarray:
    """Replace all three sentinels with NaN (reference gapfiller.py:639-651)."""
    out = a.astype(np.float64, copy=True)
    out[is_invalid(out, gap, skip, nodata)] = np.nan
    return out


class Sentinels:
    """One site's in-band sentinel encoding — the engine counterpart
    of the reference's ``key_values`` dict (gapfiller.py:826-828
    ``{'gap': , 'skip': , 'NoData': }``, also Discretizator
    timeseries.py:31-38): every entry point accepts a ``key_values``
    override so rasters encoded with different sentinel values (the
    README's "any matrices" promise) run unchanged. Immutable; the
    module constants above stay the defaults."""

    __slots__ = ("gap", "skip", "nodata")

    def __init__(self, gap: float = GAP, skip: float = SKIP,
                 nodata: float = NODATA):
        if len({float(gap), float(skip), float(nodata)}) < 3:
            raise ValueError("sentinel values must be pairwise distinct")
        object.__setattr__(self, "gap", float(gap))
        object.__setattr__(self, "skip", float(skip))
        object.__setattr__(self, "nodata", float(nodata))

    def __setattr__(self, *_):
        raise AttributeError("Sentinels is immutable")

    def __reduce__(self):
        # reconstruct through __init__ — the default slot-setattr
        # unpickling path would trip the immutability guard (these
        # objects ride mapInPandas closures to the workers)
        return (Sentinels, (self.gap, self.skip, self.nodata))

    def __repr__(self):
        return (f"Sentinels(gap={self.gap}, skip={self.skip}, "
                f"nodata={self.nodata})")

    def __eq__(self, other):
        return (isinstance(other, Sentinels) and self.gap == other.gap
                and self.skip == other.skip and self.nodata == other.nodata)


DEFAULT_SENTINELS = Sentinels()


def resolve_key_values(key_values: dict | None) -> Sentinels:
    """Reference-shaped ``key_values`` dict → ``Sentinels``. Accepts
    the reference's exact keys ('gap', 'skip', 'NoData',
    gapfiller.py:805) — missing keys keep their defaults; unknown
    keys raise instead of being silently ignored."""
    if key_values is None:
        return DEFAULT_SENTINELS
    if isinstance(key_values, Sentinels):
        return key_values
    unknown = set(key_values) - {"gap", "skip", "NoData"}
    if unknown:
        raise ValueError(
            f"unknown key_values keys {sorted(unknown)!r}; "
            "expected 'gap', 'skip', 'NoData' (reference gapfiller.py:805)")
    return Sentinels(gap=key_values.get("gap", GAP),
                     skip=key_values.get("skip", SKIP),
                     nodata=key_values.get("NoData", NODATA))


def check_payload_fmt(fmt: str, sv: "Sentinels") -> None:
    """Custom sentinel encodings require the lossless payload format:
    the png16 quantizer (codecs._quantize) reserves integer codes for
    the DEFAULT sentinel values only, so custom codes would be
    quantized (lossily) as ordinary data and the override would
    silently fill nothing. Raise up front instead."""
    if sv == DEFAULT_SENTINELS:
        return
    if fmt != "npy-f64":
        raise ValueError(
            f"key_values overrides require fmt='npy-f64' payloads; "
            f"got {fmt!r} — the {fmt!r} codec reserves sentinel codes "
            "for the default encoding only")


def check_gap_count(image_id: str, found: int, planned: int,
                    sv: "Sentinels") -> None:
    """``gapfill`` and ``gapfill_deep`` plan their tasks from
    the stats ``gap_count`` column; stats computed under another
    encoding count other pixels, and a task that trusted them would
    leave gaps unfilled or drop the image from the output. Raise
    instead."""
    if found != planned:
        raise ValueError(
            f"image {image_id!r}: {found} gap px under gap={sv.gap}, but "
            f"its gap_count column says {planned}; compute the stats "
            "columns with stats.with_stats(key_values=...) using the "
            "key_values passed here")
