"""The gap fill kernel: one image entry (``fill_image``) and one keyed
entry (``fill_keyed``) for every method.

A gap pixel's fill is the reference's ``pixel_model``
(gapfiller.py:611-781): select predictors, build the frame, clean
it, fit. ``fill_image`` runs the first two over all the gap pixels of
a call at once, and ``fill_keyed`` is the one place a fill core is
chosen:

- predictor selection (``select_coords``): biome candidate sets are
  indexed once per image (the reference re-runs argwhere over the
  full raster per pixel, gapfiller.py:511); 40-nearest per pixel is
  one stable argsort over a (pixels × candidates) distance matrix;
  the Random draws and the small-biome fallback draw each pixel's
  seeded 101-of-valid sample from one reused generator
  (``frame.pixel_draws``);
- frame assembly, keyed: the distinct predictor pixels of a call
  form one value table (layers + final row, distinct pixels) and each
  gap pixel's frame is a column list into it (``keyed_table``). The
  deep-history operator's per-chunk key-list extract is the same
  table and enters at ``fill_keyed``;
- the kNN core (``fill_keyed_knn``, Knn/Custom): frame cleaning
  (F5b/F6/F8 masks, median, A2 imputation) depends on the pixel
  alone, so it runs once per distinct pixel and is then gathered to
  (layers, pixels, predictors) — on ``fill_wide``'s scenes ~24× fewer
  cleaned columns than one per (gap px, predictor) pair. Pixels
  grouped by their target-validity pattern share train-row structure,
  so kNN predict/CV run as (pixels × test × train) matmuls per group.
  Pixels whose frames contain sentinels in the predictor block fall
  back to a per-pixel ``frame.clean_frame``, then a direct-form kNN
  batched over frames of equal shape that reproduces
  ``regressors.fit_predict``;
- every other method and mode fits pixel by pixel
  (``frame.fill_keyed``).

Bit-identical to the per-pixel reference loop (``tests/oracles.py``,
``fill_image_per_pixel``; asserted in tests): CV fold seeding depends
only on (image seed, train length) in both (frame.cv_seed).
"""

from __future__ import annotations

import numpy as np

from ssgp_toolbox_spark.kernels import frame as FR
from ssgp_toolbox_spark.kernels import regressors
from ssgp_toolbox_spark.sentinels import DEFAULT_SENTINELS, Sentinels


def _is_sentinel(a: np.ndarray,
                 sv: Sentinels = DEFAULT_SENTINELS) -> np.ndarray:
    return (a == sv.gap) | (a == sv.skip) | (a == sv.nodata)


def _knn_predict(X_train, y_train, X_test, k: int, weights: str):
    """Batched kNN: X_train (p, n, c), y_train (p, n), X_test
    (p, t, c) → (p, t). Stable tie order matches KNNRegressor."""
    d2 = (
        (X_train**2).sum(-1)[:, None, :]
        + (X_test**2).sum(-1)[:, :, None]
        - 2.0 * np.einsum("ptc,pnc->ptn", X_test, X_train)
    )  # (p, t, n)
    n = X_train.shape[1]
    kk = min(k, n)
    idx = np.argsort(d2, axis=-1, kind="stable")[..., :kk]  # (p, t, k)
    vals = np.take_along_axis(y_train[:, None, :], idx, axis=-1)  # (p, t, k)
    if weights == "distance":
        d = np.sqrt(np.maximum(np.take_along_axis(d2, idx, axis=-1), 0.0))
        exact = d < 1e-12
        w = np.where(exact, 1.0, 1.0 / np.maximum(d, 1e-12))
        any_exact = exact.any(axis=-1, keepdims=True)
        w = np.where(any_exact & ~exact, 0.0, w)
        return (vals * w).sum(-1) / w.sum(-1)
    return vals.mean(-1)


def _knn_predict_direct(X_train, y_train, X_test, k: int, weights: str):
    """Direct-form batched kNN: identical stacking of
    ``regressors.KNNRegressor`` — distances via ``((a-b)**2).sum(-1)``
    (NOT the expanded a²+b²−2ab matmul of ``_knn_predict``), so every
    f64 distance, stable-argsort tie order, and weight is bit-identical
    to the per-pixel estimator. Used by the slow-path batcher, where
    parity with ``regressors.fit_predict`` is the contract.
    X_train (p, n, c), y_train (p, n), X_test (p, t, c) → (p, t)."""
    d2 = ((X_test[:, :, None, :] - X_train[:, None, :, :]) ** 2).sum(-1)
    n = X_train.shape[1]
    kk = min(k, n)
    idx = np.argsort(d2, axis=-1, kind="stable")[..., :kk]  # (p, t, k)
    vals = np.take_along_axis(y_train[:, None, :], idx, axis=-1)
    if weights == "distance":
        # same op chain as KNNRegressor.predict (no maximum() clamp:
        # direct-form squares are never negative)
        d = np.sqrt(np.take_along_axis(d2, idx, axis=-1))
        exact = d < 1e-12
        w = np.where(exact, 1.0, 1.0 / np.maximum(d, 1e-12))
        any_exact = exact.any(axis=-1, keepdims=True)
        w = np.where(any_exact & ~exact, 0.0, w)
        return (vals * w).sum(-1) / w.sum(-1)
    return vals.mean(-1)


def _knn_slow_group(Xp, yp, xt, k: int, weights: str, seed: int):
    """Batched slow path for one exact-(n, c) shape group of
    ``clean_frame`` outputs: replicates ``regressors.fit_predict``
    ('Knn'/'Custom') pixel-for-pixel — same folds (cv_seed depends
    only on (image seed, n), so the whole group shares one fold set,
    exactly the per-pixel behavior), same direct-form distances
    (``_knn_predict_direct``), same no-CV fallback when n < 3.
    Returns (pred (p,), |score| (p,))."""
    p, n, c = Xp.shape
    pred = _knn_predict_direct(Xp, yp, xt[:, None, :], k, weights)[:, 0]
    if n < 3:
        # cross_val_neg_mae raises n_splits → fit_predict.no_cv:
        # score = train MAE of the full-train fit
        train_pred = _knn_predict_direct(Xp, yp, Xp, k, weights)
        return pred, np.abs(train_pred - yp).mean(-1)
    rng = np.random.default_rng(FR.cv_seed(seed, n))
    folds = regressors.kfold_indices(n, 3, rng)
    fold_scores = np.zeros((len(folds), p))
    for fi, fold in enumerate(folds):
        mask = np.ones(n, dtype=bool)
        mask[fold] = False
        pr = _knn_predict_direct(Xp[:, mask], yp[:, mask], Xp[:, fold],
                                 k, weights)
        fold_scores[fi] = -np.abs(pr - yp[:, fold]).mean(-1)
    return pred, np.abs(fold_scores.mean(0))


def _knn_fill_group(Xp, yp, xt, k: int, weights: str, seed: int):
    """One pattern group: Xp (p, n, c) train predictors, yp (p, n)
    targets, xt (p, c) test row. Returns (pred (p,), score (p,)) —
    score = neg-MAE 3-fold CV, or train-MAE when n < 3
    (regressors.fit_predict no-CV fallback semantics)."""
    p, n, c = Xp.shape
    pred = _knn_predict(Xp, yp, xt[:, None, :], k, weights)[:, 0]
    if n < 3:
        train_pred = _knn_predict(Xp, yp, Xp, k, weights)  # (p, n)
        score = np.abs(train_pred - yp).mean(-1)
        return pred, score  # already |MAE|
    rng = np.random.default_rng(FR.cv_seed(seed, n))
    folds = regressors.kfold_indices(n, 3, rng)
    fold_scores = np.zeros((len(folds), p))
    for fi, fold in enumerate(folds):
        mask = np.ones(n, dtype=bool)
        mask[fold] = False
        pr = _knn_predict(Xp[:, mask], yp[:, mask], Xp[:, fold], k, weights)
        fold_scores[fi] = -np.abs(pr - yp[:, fold]).mean(-1)
    return pred, np.abs(fold_scores.mean(0))


def _knn_coords_exact(cands: np.ndarray, blk: np.ndarray, k: int,
                      shape: tuple[int, int]) -> np.ndarray:
    """Exact k-nearest candidate coords for a spatially-tight block of
    pixels, with (d², original-index) tie order (== np.argmin
    first-index, gapfiller.py:519-530).

    Memory-traffic design: candidates are prefiltered to the block's
    bounding box + margin, so the (pixels × candidates) distance
    matrix touches ~the local density instead of the whole raster —
    this is what keeps 32 workers off the memory-bandwidth wall.
    Exactness: a pixel's result is accepted only if its k-th distance
    fits inside the box (sides clipped at the raster edge are always
    safe); otherwise the margin doubles and the block retries."""
    h, w = shape
    n_c = len(cands)
    # expected k-NN radius from candidate density, with headroom
    rho = max(n_c / (h * w), 1e-9)
    m = int(np.ceil(1.3 * np.sqrt(k / (np.pi * rho)))) + 2
    while True:
        r0 = max(int(blk[:, 0].min()) - m, 0)
        r1 = min(int(blk[:, 0].max()) + m, h - 1)
        c0 = max(int(blk[:, 1].min()) - m, 0)
        c1 = min(int(blk[:, 1].max()) + m, w - 1)
        box = ((cands[:, 0] >= r0) & (cands[:, 0] <= r1)
               & (cands[:, 1] >= c0) & (cands[:, 1] <= c1))
        idx = np.flatnonzero(box)  # ascending == original tie order
        if len(idx) < min(k, n_c):
            m *= 2
            continue
        local = cands[idx]
        # two-plane int64 distance: same exact integer values as the
        # stacked ((blk - local)**2).sum(-1), without the (p, n, 2)
        # temporaries and the reduction pass. Explicit int64: narrower
        # coords would overflow d2 * n_c and scramble the tie order
        dr = (blk[:, 0, None] - local[None, :, 0]).astype(np.int64, copy=False)
        dc = (blk[:, 1, None] - local[None, :, 1]).astype(np.int64, copy=False)
        d2 = dr * dr + dc * dc
        key = d2 * n_c + idx.astype(np.int64, copy=False)[None, :]
        kk = min(k, len(idx))
        if len(idx) > kk:
            part = np.argpartition(key, kk - 1, axis=1)[:, :kk]
        else:
            part = np.broadcast_to(np.arange(len(idx)), (len(blk), len(idx))).copy()
        topkeys = np.take_along_axis(key, part, axis=1)
        order = np.take_along_axis(part, np.argsort(topkeys, axis=1), axis=1)[:, :kk]
        if len(idx) == n_c:
            return local[order]
        # safety: k-th distance must fit inside the (unclipped) box
        dk2 = np.take_along_axis(d2, order[:, -1:], axis=1)[:, 0]
        side = np.full(len(blk), np.iinfo(np.int64).max, dtype=np.int64)
        if r0 > 0:
            side = np.minimum(side, blk[:, 0] - r0)
        if r1 < h - 1:
            side = np.minimum(side, r1 - blk[:, 0])
        if c0 > 0:
            side = np.minimum(side, blk[:, 1] - c0)
        if c1 < w - 1:
            side = np.minimum(side, c1 - blk[:, 1])
        if (dk2 <= side * side).all():
            return local[order]
        m *= 2


def _biome_coords_batched(final, extra, gaps, seed,
                          sv: Sentinels = DEFAULT_SENTINELS):
    """Predictor coords for all gap pixels under 'Biome' (reference
    gapfiller.py:500-586 semantics incl. first-index tie-break and the
    101-random fallback for small biomes). Fallback RNG seeds key on
    each pixel's coords, so any slice of the gap scan draws the same
    predictors per pixel."""
    masked = np.where(final == sv.gap, sv.gap, extra)
    P = len(gaps)
    out = np.empty((P, FR.N_NEAREST + 1, 2), dtype=np.int64)
    codes = extra[gaps[:, 0], gaps[:, 1]]
    # per-code candidate sets via one flatnonzero scan per code:
    # ascending flat (row-major) index order — exactly np.argwhere's
    # order, so tie-breaks are unchanged (measured faster than the
    # former global stable argsort + per-segment re-sort: the chunk
    # only ever touches ~a dozen codes)
    w = final.shape[1]
    flat = masked.ravel()
    small = []  # gap indices whose biome takes the random fallback
    for code in np.unique(codes):
        sel = np.flatnonzero(codes == code)
        cidx = np.flatnonzero(flat == code)
        cands = np.column_stack([cidx // w, cidx % w])
        if len(cands) > FR.BIOME_MIN:
            pts = gaps[sel]  # (s, 2)
            for lo in range(0, len(pts), 128):
                blk = pts[lo : lo + 128]
                out[sel[lo : lo + 128], :-1] = _knn_coords_exact(
                    cands, blk, FR.N_NEAREST, final.shape)
        else:
            small.append(sel)
    if small:
        _random_nearest_batched(final, gaps, np.concatenate(small), out,
                                seed, sv)
    out[:, -1] = gaps
    return out


def _random_nearest_batched(final, gaps, sel, out, seed, sv: Sentinels):
    """The small-biome fallback for gap pixels ``gaps[sel]``, written
    into ``out[sel, :-1]``: 101 random valid coords per pixel, then
    their 40 nearest. The draws are each pixel's own seeded
    permutation (``FR.pixel_draws``); the gather, the f64 distances
    and the stable argsort run over blocks of 1024 pixels (~1.6 MB of
    gathered coords), with (distance, index) tie order."""
    # the valid set is pixel-independent: one scan per call
    valid = FR.random_pool(final, sv)
    for lo in range(0, len(sel), 1024):
        blk = sel[lo : lo + 1024]
        pts = gaps[blk]  # (s, 2)
        picks = FR.pixel_draws(seed, pts, len(valid))
        rand = valid[picks]  # (s, 101, 2)
        d = np.sqrt(((rand - pts[:, None, :]) ** 2).sum(-1)
                    .astype(np.float64))
        order = np.argsort(d, axis=1, kind="stable")[:, :FR.N_NEAREST]
        out[blk, :-1] = np.take_along_axis(rand, order[..., None], axis=1)


def select_coords(final: np.ndarray, extra: np.ndarray | None,
                  gaps: np.ndarray, predictor_configuration: str,
                  seed: int, sv: Sentinels = DEFAULT_SENTINELS) -> np.ndarray:
    """Predictor coords (P, C, 2) for the given gap pixels, target
    coord appended last — the selection block shared by ``fill_image``
    and the deep-history operator's coords pass. Per-pixel
    deterministic (seeded RNG keyed on pixel coords), so any
    gap-subset slicing yields identical coords per pixel."""
    P = len(gaps)
    if predictor_configuration == "Biome":
        if extra is None:
            raise ValueError("Biome mode requires the extra (zone) matrix")
        return _biome_coords_batched(final, extra, gaps, seed, sv)
    if predictor_configuration == "Random":
        # each pixel's seeded draw, with one scan of the valid set
        valid = FR.random_pool(final, sv)
        coords = np.empty((P, FR.N_RANDOM + 1, 2), dtype=np.int64)
        coords[:, :-1] = valid[FR.pixel_draws(seed, gaps, len(valid))]
        coords[:, -1] = gaps
        return coords
    if predictor_configuration == "All":
        base = np.argwhere(final != sv.gap)
        coords = np.empty((P, len(base) + 1, 2), dtype=np.int64)
        coords[:, :-1] = base[None, :, :]
        coords[:, -1] = gaps
        return coords
    raise ValueError(f"unknown predictor_configuration {predictor_configuration!r}")


def fill_image(final: np.ndarray, tensor: np.ndarray,
               extra: np.ndarray | None = None, method: str = "Knn",
               predictor_configuration: str = "Biome",
               hyperparameters: str = "Custom", params: dict | None = None,
               seed: int = 0, gaps: np.ndarray | None = None,
               sv: Sentinels = DEFAULT_SENTINELS):
    """Fill the gap pixels ``gaps`` (P, 2) of ``final`` from the
    temporal stack ``tensor`` — every gap pixel, in row-major scan
    order, when None. The reference's per-image loop
    (gapfiller.py:600-781) minus the IO: ``select_coords`` →
    ``keyed_table`` → ``fill_keyed``. Returns (filled, scores): a copy
    of ``final`` with the targets filled (skip where a pixel cannot be
    fit) and the |CV-MAE| of each filled pixel in ``gaps`` order.

    The whole image stays the selection context whatever ``gaps``
    holds, and every seed keys on the pixel, so filling the gap scan
    slice by slice is bit-identical to one whole-image call — what
    lets the ``gapfill`` wave split a hot image across tasks."""
    if gaps is None:
        gaps = np.argwhere(final == sv.gap)
    filled = final.copy()
    if len(gaps) == 0:
        return filled, []
    # the (P, C, 2) coords die here: under 'All' C is every valid px
    table, idx = keyed_table(final, tensor, select_coords(
        final, extra, gaps, predictor_configuration, seed, sv))
    preds, scores, skip_px = fill_keyed(
        table, idx, gaps, method, hyperparameters, params, seed, sv)
    filled[gaps[skip_px, 0], gaps[skip_px, 1]] = sv.skip
    done = ~skip_px
    filled[gaps[done, 0], gaps[done, 1]] = preds[done]
    return filled, [float(s) for s in scores[done]]


def fill_image_knn(final: np.ndarray, tensor: np.ndarray,
                   extra: np.ndarray | None = None, **kw):
    """``fill_image(method='Knn', ...)``, under the name
    ``perfbench`` calls."""
    return fill_image(final, tensor, extra, method="Knn", **kw)


def fill_keyed(table: np.ndarray, idx: np.ndarray, gaps: np.ndarray,
               method: str = "Knn", hyperparameters: str = "Custom",
               params: dict | None = None, seed: int = 0,
               sv: Sentinels = DEFAULT_SENTINELS):
    """The fill core for ``method``/``hyperparameters`` on the keyed
    frame form (``keyed_table``): the batched ``fill_keyed_knn`` for
    Knn/Custom, the per-pixel ``frame.fill_keyed`` for every other
    method and mode. ``gaps`` (P, 2) absolute coords of the targets.
    Returns (preds (P,), |CV-MAE| scores (P,), skip mask (P,))."""
    if method == "Knn" and hyperparameters == "Custom":
        params = params or {}
        return fill_keyed_knn(table, idx, int(params.get("n_neighbors", 5)),
                              params.get("weights", "uniform"), seed, sv)
    return FR.fill_keyed(table, idx, gaps, method, hyperparameters, params,
                         seed, sv)


def keyed_table(final: np.ndarray, tensor: np.ndarray, coords: np.ndarray):
    """The keyed form of the frames at ``coords`` (P, C, 2): ``table``
    (L+1, K) holds one column per distinct predictor pixel in
    row-major order (history rows, then the final row) and ``idx``
    (P, C) points each frame column into it, so ``table[:, idx[s]]``
    is pixel ``s``'s frame. The key map is one dense
    lookup over the raster (the size of ``final``), not a sort of the
    P·C flat coords."""
    w = final.shape[1]
    flat = coords[..., 0] * w + coords[..., 1]               # (P, C)
    seen = np.zeros(final.size, dtype=bool)
    seen[flat] = True
    keys = np.flatnonzero(seen)                              # sorted, unique
    pos = np.empty(final.size, dtype=np.intp)
    pos[keys] = np.arange(len(keys))
    kr, kc = np.divmod(keys, w)
    table = np.vstack([tensor[:, kr, kc], final[kr, kc][None, :]])
    return table, pos[flat]


def fill_keyed_knn(table: np.ndarray, idx: np.ndarray, k: int,
                   weights: str, seed: int,
                   sv: Sentinels = DEFAULT_SENTINELS):
    """The Knn/Custom core on the keyed frame form (``keyed_table``):
    ``table`` (L+1, K) values per distinct predictor pixel (L history
    rows, then the final row), ``idx`` (P, C) columns of each gap
    pixel's frame, target last. Needs NO raster: the deep-history
    operator (operators/deep_gapfill.py) passes its per-chunk key-list
    extract in through ``fill_keyed``. Returns
    (preds (P,), |CV-MAE| scores (P,), skip mask (P,)); preds/scores
    are NaN where skip. A pixel with no valid target history (empty
    training set) is a skip, as in ``frame.clean_frame``."""
    P = idx.shape[0]
    L = table.shape[0] - 1
    target_hist = table[:L, idx[:, -1]]                     # (L, P)

    # F5: any skip in the target column → output skip
    skip_px = (target_hist == sv.skip).any(axis=0)

    # ---- frame cleaning (F5b/F6/F7/F8/A2), once per table column -----
    # A cleaned predictor column depends only on its pixel, so masks,
    # medians and imputation run over the K distinct pixels and are
    # then gathered per (gap px, predictor) — the values are those of
    # cleaning each frame. Column *drops* become zero-masking: kNN uses
    # only pairwise distances, and a column zeroed in every row (train
    # and test) contributes 0 — identical to dropping it. F7's all-NaN
    # row drop is subsumed by the F9 target-validity row mask (an
    # all-NaN row has a NaN target), and its effect on medians is nil
    # because its values are all NaN. The median is sort-based (NaNs
    # sort last; the two middle valid values average with np.median's
    # (a+b)/2 arithmetic), which is bit-identical to np.nanmedian.
    vt = table.astype(np.float64)                           # (L+1, K)
    keep_t = ~(vt == sv.skip).any(axis=0)                   # F5b  (K,)
    vt[(vt == sv.gap) | (vt == sv.nodata)] = np.nan         # F6
    keep_t &= ~np.isnan(vt[-1])                             # F8 (NaN at target row)
    tmp = np.where(keep_t, vt, np.nan)
    tmp.sort(axis=0, kind="stable")                          # NaNs sort last
    cnt = (~np.isnan(tmp)).sum(axis=0)                       # valid per column
    lo = np.maximum((cnt - 1) // 2, 0)[None, :]
    hi = (cnt // 2)[None, :]
    med_t = (np.take_along_axis(tmp, lo, axis=0)[0]
             + np.take_along_axis(tmp, hi, axis=0)[0]) / 2.0  # (K,)
    med_t[cnt == 0] = np.nan                                 # all-NaN column
    np.copyto(vt, np.broadcast_to(med_t, vt.shape), where=np.isnan(vt))  # A2
    vt[:, ~keep_t] = 0.0                                     # drop → zero-mask
    pidx = idx[:, :-1]
    vals = vt[:, pidx]                                       # (L+1, P, C-1)
    col_keep = keep_t[pidx]                                  # (P, C-1)
    # punt conditions → per-pixel slow path:
    # (1) safety net: kept column with empty median (shouldn't happen);
    # (2) every column dropped — then the reference's F7 drops the
    #     all-NaN *test row* itself and the frame's last row becomes a
    #     history layer (test-row shift quirk, gapfiller.py:653-659),
    #     AFTER which F8 re-evaluates column validity at the SHIFTED
    #     row and can re-admit predictors — only the sequential
    #     cleaner reproduces that cascade (a batched zero-feature
    #     shortcut was prototyped this round and found wrong exactly
    #     here: on the harness corpus every such pixel's columns are
    #     final-NODATA drops that survive the shifted F8).
    bad_t = keep_t & np.isnan(med_t)
    bad = bad_t[pidx].any(axis=1)
    bad |= ~col_keep.any(axis=1)
    fast = ~bad & ~skip_px
    slow = bad & ~skip_px

    preds = np.full(P, np.nan)
    scores = np.full(P, np.nan)

    if fast.any():
        fidx = np.flatnonzero(fast)
        valid_t = ~((target_hist[:, fidx] == sv.gap)
                    | (target_hist[:, fidx] == sv.nodata)
                    | (target_hist[:, fidx] == sv.skip))    # (L, f)
        patterns = np.packbits(valid_t, axis=0).T
        uniq, inv = np.unique(patterns, axis=0, return_inverse=True)
        for u in range(len(uniq)):
            sel = np.flatnonzero(inv == u)
            grp = fidx[sel]
            rows = np.flatnonzero(valid_t[:, sel[0]])
            if len(rows) == 0:
                skip_px[grp] = True  # empty train → skip (clean_frame)
                continue
            Xp = vals[np.ix_(rows, grp)].transpose(1, 0, 2)             # (p, n, c)
            yp = target_hist[np.ix_(rows, grp)].T                       # (p, n)
            xt = vals[-1][grp]                                          # (p, c)
            pr, sc = _knn_fill_group(Xp, yp, xt, k, weights, seed)
            preds[grp] = pr
            scores[grp] = sc

    # slow path: the per-pixel clean_frame cascade (the reference's F7
    # test-row-shift quirk) stays sequential — it is cheap; the
    # EXPENSIVE part, the per-pixel kNN fit + 3-fold CV after it, is
    # batched by grouping the cleaned frames on their exact (n, c)
    # shape (same n → same cv_seed → same folds, the per-pixel rule)
    # and running the direct-form group kernel — bit-identical to
    # regressors.fit_predict by construction (measured ~20% of the
    # whole fill kernel on high-gap images before batching)
    groups: dict = {}
    for s in np.flatnonzero(slow):
        res = FR.clean_frame(table[:, idx[s]], sv)
        if isinstance(res, str):
            skip_px[s] = True
            continue
        groups.setdefault(res[0].shape, []).append((s, *res))
    for items in groups.values():
        sel = np.array([it[0] for it in items], dtype=np.int64)
        Xp = np.stack([it[1] for it in items])        # (p, n, c)
        yp = np.stack([it[2] for it in items])        # (p, n)
        xt = np.stack([it[3][0] for it in items])     # (p, c)
        pr, sc = _knn_slow_group(Xp, yp, xt, k, weights, seed)
        preds[sel] = pr
        scores[sel] = sc

    return preds, scores, skip_px
