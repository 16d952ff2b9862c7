"""Per-pixel pieces of the gap fill: seeds and draws, the Random
pool, frame cleaning, and the per-pixel fill core.

The per-pixel dataflow of the reference's ``pixel_model``
(gapfiller.py:611-773) is select → frame → clean → fit. Selection and
frame assembly run batched over a call's gap pixels in
``kernels/batch.py`` (``select_coords``, ``keyed_table``); this module
holds what they key on (``pixel_draws``, ``cv_seed``,
``random_pool``), the cleaning chain (``clean_frame``) and the core
that fits one pixel at a time for every method but Knn/Custom
(``fill_keyed``). ``batch.fill_keyed`` picks between that core and the
batched kNN core.

Frame layout (gapfiller.py:446-454): rows = history layers + the
target layer (last row); columns = predictor pixels + the target
pixel (last column).

Cleaning pipeline (order matters, reproduced exactly):
  F5  any skip in target column → output = skip (gapfiller.py:634-635)
  F5b drop predictor columns containing any skip (639-640)
  F6  gap/NoData → NaN (650-651)
  F7  drop rows that are entirely NaN (653-655)
  F8  drop predictor columns that are NaN in the target row (657-679)
  A2  impute remaining predictor NaNs with the column median (683-694)
  F9  training rows with NaN target dropped (698-703)

Known reference quirks kept for parity (SURVEY.md §7):
- Random mode samples 101 coords, not 100 (``while number_iter <= 100``
  with append-then-increment, gapfiller.py:466-481) → 102 columns
  with the target.
- Biome 40-nearest uses np.argmin first-index tie-break
  (gapfiller.py:519-530).

Divergences from the reference, flagged here:
- The reference would raise NameError on the skip-target branch
  (``score`` unbound at gapfiller.py:773); we output skip and record
  no score.
- A pixel whose training set is empty after F9 (every history value
  of its target is gap/NoData) cannot be fit; the reference's
  estimators would raise on the empty sample. We output skip and
  record no score, as for F5, so no NaN reaches the raster or the
  image's mean CV-MAE.
"""

from __future__ import annotations

import numpy as np

from ssgp_toolbox_spark.kernels import regressors
from ssgp_toolbox_spark.sentinels import DEFAULT_SENTINELS, Sentinels

N_RANDOM = 101  # reference samples 101 distinct valid coords (O4 quirk)
N_NEAREST = 40
BIOME_MIN = 41


def _pixel_seed(seed: int, coord_row: int, coord_col: int) -> int:
    """The per-(image, pixel) seed, in [0, 2**63 - 1) (Python ints, so
    no intermediate wraps): each pixel's draws are those of
    ``default_rng(_pixel_seed(seed, r, c))``, so task retries and
    resume are bit-stable (C10; reference uses unseeded ``random``)."""
    return (seed * 1_000_003 + coord_row * 8191 + coord_col) % (2**63 - 1)


# numpy's SeedSequence hash constants (numpy/random/bit_generator.pyx)
# and the PCG64 LCG multiplier (numpy/random/src/pcg64/pcg64.h)
_SS_INIT_A, _SS_MULT_A = 0x43B0D7E5, 0x931E8875
_SS_INIT_B, _SS_MULT_B = 0x8B51F9DD, 0x58F38DED
_SS_MIX_L, _SS_MIX_R = 0xCA01F9DD, 0x4973F715
_PCG_MULT = (2549297995355413924 << 64) | 4865540595714422341
_M32, _M128 = 0xFFFFFFFF, (1 << 128) - 1


def _seed_words(seeds: np.ndarray) -> np.ndarray:
    """``SeedSequence(s).generate_state(4, np.uint64)`` for every ``s``
    of the uint64 array ``seeds`` in one vectorized uint32 pass:
    (P, 4) uint64. The hash constants step the same way for every
    seed, so each lane runs numpy's exact sequence. A seed below 2**32
    has one entropy word where this uses two, but the pool pads
    missing words with zeros, so a zero high word hashes the same."""
    words = [(seeds & np.uint64(_M32)).astype(np.uint32),
             (seeds >> np.uint64(32)).astype(np.uint32)]
    words += [np.zeros_like(words[0])] * 2  # pool size 4
    const = _SS_INIT_A

    def hashmix(v):
        nonlocal const
        v = v ^ np.uint32(const)
        const = (const * _SS_MULT_A) & _M32
        v = v * np.uint32(const)
        return v ^ (v >> np.uint32(16))

    with np.errstate(over="ignore"):
        pool = [hashmix(v) for v in words]
        for i_src in range(4):
            for i_dst in range(4):
                if i_src != i_dst:
                    m = (np.uint32(_SS_MIX_L) * pool[i_dst]
                         - np.uint32(_SS_MIX_R) * hashmix(pool[i_src]))
                    pool[i_dst] = m ^ (m >> np.uint32(16))
        state, const = [], _SS_INIT_B
        for i in range(8):
            v = pool[i % 4] ^ np.uint32(const)
            const = (const * _SS_MULT_B) & _M32
            v = v * np.uint32(const)
            state.append((v ^ (v >> np.uint32(16))).astype(np.uint64))
    # little-endian pairs of uint32 words make each uint64
    return np.stack([state[2 * j] | (state[2 * j + 1] << np.uint64(32))
                     for j in range(4)], axis=1)


def pixel_draws(seed: int, coords: np.ndarray, n: int,
                k: int = N_RANDOM) -> np.ndarray:
    """``default_rng(_pixel_seed(seed, r, c)).permutation(n)[:k]`` for every (r, c)
    of ``coords`` (P, 2): (P, min(k, n)) int64, bit-identical."""
    return seeded_draws([_pixel_seed(seed, r, c) for r, c in coords.tolist()],
                        n, k)


def seeded_draws(seeds, n: int, k: int = N_RANDOM) -> np.ndarray:
    """``np.random.default_rng(s).permutation(n)[:k]`` for every seed
    ``s`` in [0, 2**64): (len(seeds), min(k, n)) int64, bit-identical.
    Instead of a new generator per seed (~20 µs of SeedSequence hashing
    and PCG64 set-up), the seed words of all seeds are hashed at once,
    each PCG64 state is derived as ``pcg64_set_seed`` does (128-bit
    Python ints) and set on one reused generator before its draw."""
    gen = np.random.Generator(np.random.PCG64(0))
    bitgen = gen.bit_generator
    out = np.empty((len(seeds), min(k, n)), dtype=np.int64)
    words = _seed_words(np.array(seeds, dtype=np.uint64).reshape(-1))
    for i, (s_hi, s_lo, i_hi, i_lo) in enumerate(words.tolist()):
        inc = ((((i_hi << 64) | i_lo) << 1) | 1) & _M128
        # srandom: state = 0; step; state += seed; step
        state = ((inc + ((s_hi << 64) | s_lo)) * _PCG_MULT + inc) & _M128
        bitgen.state = {"bit_generator": "PCG64",
                        "state": {"state": state, "inc": inc},
                        "has_uint32": 0, "uinteger": 0}
        out[i] = gen.permutation(n)[:k]
    return out


def cv_seed(seed: int, n_train: int) -> int:
    """CV fold seed depends only on (image seed, train length): pixels
    with equal train size share fold structure, which lets the batched
    fast path (kernels/batch.py) evaluate whole pixel groups per fold
    while staying bit-identical with the per-pixel path."""
    return (seed * 2_654_435_761 + n_train * 97) % (2**63 - 1)


def random_pool(final: np.ndarray,
                sv: Sentinels = DEFAULT_SENTINELS) -> np.ndarray:
    """The valid coords a 'Random' selection (and the small-biome
    fallback) draws its 101 predictors from, in row-major order
    (gapfiller.py:457-486). The reference rejection-samples with
    unseeded ``random.randint``, which never terminates when fewer
    than 101 valid pixels exist (hence its viability threshold of 101,
    gapfiller.py:860). Ours takes each pixel's seeded permutation of
    this pool (``pixel_draws``): same contract (101 distinct valid,
    uniform), deterministic per pixel, and it raises here instead of
    hanging when there are fewer than ``N_RANDOM``."""
    valid = np.argwhere((final != sv.gap) & (final != sv.skip)
                        & (final != sv.nodata))
    if len(valid) < N_RANDOM:
        raise ValueError(
            f"Random predictor selection needs {N_RANDOM} valid pixels, "
            f"image has {len(valid)} (reference would loop forever here)"
        )
    return valid


def clean_frame(frame: np.ndarray, sv: Sentinels = DEFAULT_SENTINELS):
    """F5-F9 + A2. Returns (X_train, y_train, X_test) or the string
    'skip' when the target column contains a skip value or no
    training row is left."""
    target_col = frame[:, -1]
    if (target_col == sv.skip).any():
        return "skip"
    keep = ~(frame == sv.skip).any(axis=0)
    keep[-1] = True  # target column always kept
    f = frame[:, keep].astype(np.float64)
    f[(f == sv.gap) | (f == sv.nodata)] = np.nan
    # F7: drop all-NaN rows
    f = f[~np.isnan(f).all(axis=1)]
    # F8: drop predictor columns NaN at the target timestep (last row)
    pred_na = np.isnan(f[-1, :-1])
    if pred_na.any():
        keep2 = np.concatenate([~pred_na, [True]])
        f = f[:, keep2]
    # A2: median-impute predictor columns (target column untouched)
    for c in range(f.shape[1] - 1):
        col = f[:, c]
        na = np.isnan(col)
        if na.any():
            col[na] = np.median(col[~na])
    train = f[:-1]
    test = f[-1:]
    train = train[~np.isnan(train).any(axis=1)]  # F9 (only target NaNs remain)
    if len(train) == 0:
        return "skip"
    return train[:, :-1], train[:, -1], test[:, :-1]


def fill_keyed(table: np.ndarray, idx: np.ndarray, gaps: np.ndarray,
               method: str = "Lasso", hyperparameters: str = "Custom",
               params: dict | None = None, seed: int = 0,
               sv: Sentinels = DEFAULT_SENTINELS):
    """Per-pixel fill over the keyed frame form — the generic-method
    counterpart of ``batch.fill_keyed_knn``. ``table`` (L+1, K) values
    per distinct predictor pixel (history rows, then the final row),
    ``idx`` (P, C) each gap pixel's frame columns (target last),
    ``gaps`` (P, 2) absolute pixel coords (used only for the
    grid-search per-pixel seed salt). Pixel ``i``'s frame is
    ``table[:, idx[i]]``; it is cleaned (``clean_frame``) and fit
    (``regressors.fit_predict``) on its own. Returns (preds (P,),
    |CV-MAE| scores (P,), skip mask (P,))."""
    P = idx.shape[0]
    preds = np.full(P, np.nan)
    scores = np.full(P, np.nan)
    skip_px = np.zeros(P, dtype=bool)
    for i in range(P):
        res = clean_frame(table[:, idx[i]], sv)
        if isinstance(res, str):  # 'skip'
            skip_px[i] = True
            continue
        X_train, y_train, X_test = res
        s = cv_seed(seed, len(y_train))
        if hyperparameters in ("RandomGridSearch", "GridSearch"):
            # grid modes sample candidates per PIXEL (the reference's
            # unseeded RandomizedSearchCV draws fresh per call;
            # sharing one candidate subset across an image would bias
            # a whole fill on one unlucky draw). Custom mode keeps the
            # (image, n_train) seed — the batched kernel's fold-share
            # contract (kernels/batch.py). Python ints: the forests
            # scale the seed again, and an int64 would wrap there
            r, c = (int(v) for v in gaps[i])
            s = (s * 69069 + r * 8191 + c * 131) % (2**63 - 1)
        pred, score = regressors.fit_predict(
            method, hyperparameters, params, X_train, y_train, X_test,
            seed=s,
        )
        preds[i] = float(np.ravel(pred)[0])
        scores[i] = abs(float(np.ravel(score).mean() if np.ndim(score) else score))
    return preds, scores, skip_px
