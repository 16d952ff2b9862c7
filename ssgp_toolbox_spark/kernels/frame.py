"""Predictor selection + frame cleaning + per-image gap fill.

The per-pixel dataflow of the reference's ``pixel_model``
(gapfiller.py:611-773), re-expressed as numpy-only kernels that run
*per tile group* inside ``applyInPandas`` — Python is entered once
per Arrow batch, not per row.

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
- The reference would raise NameError on the skip-target branch
  (``score`` unbound at gapfiller.py:773); we output skip and record
  no score — the only divergence, flagged here.
"""

from __future__ import annotations

import numpy as np

from ssgp_toolbox_spark.kernels import regressors
from ssgp_toolbox_spark.sentinels import DEFAULT_SENTINELS, Sentinels

N_RANDOM = 101  # reference samples 101 distinct valid coords (O4 quirk)
N_NEAREST = 40
BIOME_MIN = 41


def _pixel_rng(seed: int, coord_row: int, coord_col: int) -> np.random.Generator:
    """Deterministic per-(image, pixel) generator so task retries and
    resume are bit-stable (C10; reference uses unseeded ``random``)."""
    return np.random.default_rng(
        (seed * 1_000_003 + coord_row * 8191 + coord_col) % (2**63 - 1)
    )


def cv_seed(seed: int, n_train: int) -> int:
    """CV fold seed depends only on (image seed, train length): pixels
    with equal train size share fold structure, which lets the batched
    fast path (kernels/batch.py) evaluate whole pixel groups per fold
    while staying bit-identical with the per-pixel path."""
    return (seed * 2_654_435_761 + n_train * 97) % (2**63 - 1)


def select_all(final: np.ndarray, coord: tuple[int, int],
               sv: Sentinels = DEFAULT_SENTINELS) -> np.ndarray:
    """'All' strategy: every non-gap pixel (incl. skip/NoData — they
    are cleaned later), target appended last (gapfiller.py:438-443)."""
    coords = np.argwhere(final != sv.gap)
    return np.vstack([coords, [coord]])


def select_random(final: np.ndarray, coord: tuple[int, int],
                  rng: np.random.Generator,
                  sv: Sentinels = DEFAULT_SENTINELS) -> np.ndarray:
    """'Random' strategy: 101 distinct valid coords, target appended
    last (gapfiller.py:457-486). The reference rejection-samples with
    unseeded ``random.randint`` — which silently never terminates when
    fewer than 101 valid pixels exist and degenerates near that bound
    (that is why its viability threshold is 101, gapfiller.py:860).
    Ours draws a seeded permutation of the valid set: same contract
    (101 distinct valid, uniform), deterministic per pixel, O(valid),
    and raises instead of hanging on infeasible images."""
    valid = np.argwhere((final != sv.gap) & (final != sv.skip)
                        & (final != sv.nodata))
    check_random_pool(len(valid))
    chosen = valid[rng.permutation(len(valid))[:N_RANDOM]]
    return np.vstack([chosen, [coord]])


def check_random_pool(n_valid: int) -> None:
    """Raise when an image has fewer than ``N_RANDOM`` valid pixels to
    draw from (``select_random``)."""
    if n_valid < N_RANDOM:
        raise ValueError(
            f"Random predictor selection needs {N_RANDOM} valid pixels, "
            f"image has {n_valid} (reference would loop forever here)"
        )


def _k_nearest(coords: np.ndarray, coord: tuple[int, int], k: int) -> np.ndarray:
    """k smallest Euclidean pixel distances with np.argmin first-index
    tie-break parity (gapfiller.py:519-530): sort by (distance, index)."""
    d = np.sqrt(((coords - np.array(coord)) ** 2).sum(axis=1).astype(np.float64))
    # stable argsort == lexsort((arange(n), d)): equal distances keep
    # ascending original-index order — same np.argmin first-index
    # parity, ~2x faster than the two-key lexsort
    order = np.argsort(d, kind="stable")[:k]
    return coords[order]


def select_biome(final: np.ndarray, coord: tuple[int, int], extra: np.ndarray,
                 rng: np.random.Generator,
                 sv: Sentinels = DEFAULT_SENTINELS) -> np.ndarray:
    """'Biome' strategy (gapfiller.py:500-586): same-biome candidates
    not currently gapped; >41 → 40 nearest; else 101 random valid →
    40 nearest of those. Target appended last."""
    code = extra[coord[0], coord[1]]
    masked = np.where(final == sv.gap, sv.gap, extra)
    coords = np.argwhere(masked == code)
    if len(coords) > BIOME_MIN:
        sel = _k_nearest(coords, coord, N_NEAREST)
    else:
        rand = select_random(final, coord, rng, sv)[:-1]  # drop appended target
        sel = _k_nearest(rand, coord, N_NEAREST)
    return np.vstack([sel, [coord]])


def build_frame(tensor: np.ndarray, final: np.ndarray, coords: np.ndarray) -> np.ndarray:
    """(layers+1, n_coords) frame: history series per coord + final-
    matrix value as the last row (gapfiller.py:446-454)."""
    hist = tensor[:, coords[:, 0], coords[:, 1]]
    last = final[coords[:, 0], coords[:, 1]]
    return np.vstack([hist, last[None, :]])


def clean_frame(frame: np.ndarray, sv: Sentinels = DEFAULT_SENTINELS):
    """F5-F9 + A2. Returns (X_train, y_train, X_test) or the string
    'skip' when the target column contains a skip value."""
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
    return train[:, :-1], train[:, -1], test[:, :-1]


def fill_gathered(hist: np.ndarray, last: np.ndarray, gaps: np.ndarray,
                  method: str = "Lasso", hyperparameters: str = "Custom",
                  params: dict | None = None, seed: int = 0,
                  sv: Sentinels = DEFAULT_SENTINELS):
    """Per-pixel fill over PRE-GATHERED frame blocks — the generic-
    method counterpart of ``batch.fill_gathered_knn``. ``hist``
    (L, P, C) history values at each gap pixel's predictor coords
    (target coord last), ``last`` (P, C) final-image values at the
    same coords, ``gaps`` (P, 2) absolute pixel coords (used only for
    the grid-search per-pixel seed salt). Per pixel this builds the
    exact frame ``build_frame`` would ((L+1, C): history rows + final
    row) and runs the same clean + fit pipeline as ``fill_image``, so
    results are bit-identical — the deep-history operator relies on
    that. Returns (preds (P,), |CV-MAE| scores (P,), skip mask (P,))."""
    P = last.shape[0]
    preds = np.full(P, np.nan)
    scores = np.full(P, np.nan)
    skip_px = np.zeros(P, dtype=bool)
    for i in range(P):
        res = clean_frame(np.vstack([hist[:, i, :], last[i][None, :]]), sv)
        if isinstance(res, str):  # 'skip'
            skip_px[i] = True
            continue
        X_train, y_train, X_test = res
        s = cv_seed(seed, len(y_train))
        if hyperparameters in ("RandomGridSearch", "GridSearch"):
            r, c = (int(v) for v in gaps[i])
            s = (s * 69069 + r * 8191 + c * 131) % (2**63 - 1)
        pred, score = regressors.fit_predict(
            method, hyperparameters, params, X_train, y_train, X_test,
            seed=s,
        )
        preds[i] = float(np.ravel(pred)[0])
        scores[i] = abs(float(np.ravel(score).mean() if np.ndim(score) else score))
    return preds, scores, skip_px


def fill_image(final: np.ndarray, tensor: np.ndarray,
               extra: np.ndarray | None = None, method: str = "Knn",
               predictor_configuration: str = "Random",
               hyperparameters: str = "Custom", params: dict | None = None,
               seed: int = 0, gap_slice: tuple[int, int] | None = None,
               sv: Sentinels = DEFAULT_SENTINELS):
    """Fill every gap pixel of ``final`` using the temporal stack
    ``tensor``; returns (filled matrix, list of |CV-MAE| scores).
    Equivalent of the reference's per-image ``__learning_and_fill``
    loop (gapfiller.py:600-781) minus the IO. ``gap_slice=(lo, hi)``
    fills only that positional range of the row-major gap scan
    (chunked operators) — per-pixel seeding keeps results identical
    to the whole-image fill."""
    gaps = np.argwhere(final == sv.gap)
    if gap_slice is not None:
        gaps = gaps[gap_slice[0] : gap_slice[1]]
    filled = final.copy()
    scores: list[float] = []
    for r, c in gaps:
        rng = _pixel_rng(seed, int(r), int(c))
        if predictor_configuration == "Biome":
            if extra is None:
                raise ValueError("Biome mode requires the extra (zone) matrix")
            coords = select_biome(final, (r, c), extra, rng, sv)
        elif predictor_configuration == "All":
            coords = select_all(final, (r, c), sv)
        elif predictor_configuration == "Random":
            coords = select_random(final, (r, c), rng, sv)
        else:
            raise ValueError(f"unknown predictor_configuration {predictor_configuration!r}")
        res = clean_frame(build_frame(tensor, final, coords), sv)
        if isinstance(res, str):  # 'skip': any skip in the target column
            filled[r, c] = sv.skip
            continue
        X_train, y_train, X_test = res
        s = cv_seed(seed, len(y_train))
        if hyperparameters in ("RandomGridSearch", "GridSearch"):
            # grid modes sample candidates per PIXEL (the reference's
            # unseeded RandomizedSearchCV draws fresh per call;
            # sharing one candidate subset across an image would bias
            # a whole fill on one unlucky draw). Custom mode keeps the
            # (image, n_train) seed — the batched kernel's fold-share
            # contract (kernels/batch.py).
            s = (s * 69069 + r * 8191 + c * 131) % (2**63 - 1)
        pred, score = regressors.fit_predict(
            method, hyperparameters, params, X_train, y_train, X_test,
            seed=s,
        )
        filled[r, c] = float(np.ravel(pred)[0])
        scores.append(abs(float(np.ravel(score).mean() if np.ndim(score) else score)))
    return filled, scores
