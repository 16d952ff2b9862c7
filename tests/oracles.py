"""Independent, deliberately-naive oracles transcribing the reference
semantics (cited lines) with per-pixel loops — used to verify the
engine's vectorized kernels (FIXTURES.md §4). These are NOT imported
by the engine."""

import numpy as np
import pandas as pd

GAP, SKIP, NODATA = -100.0, -200.0, -32768.0


def nn_fill_oracle(matrix):
    """Transcription of gapfiller.py:920-962: flatten skip/NoData to
    gap, fill each flagged pixel with nearest valid (first-index tie),
    restore skip/NoData."""
    m = matrix.astype(np.float64).copy()
    invalid = (m == GAP) | (m == SKIP) | (m == NODATA)
    if (~invalid).sum() <= 10:
        return m, "not_enough_valid"
    if (m == GAP).sum() == 0:
        return m, "passthrough"
    work = m.copy()
    work[(work == SKIP) | (work == NODATA)] = GAP
    valid_pts = [(i, j) for i in range(m.shape[0]) for j in range(m.shape[1])
                 if work[i, j] != GAP]
    out = work.copy()
    for i in range(m.shape[0]):
        for j in range(m.shape[1]):
            if work[i, j] == GAP:
                best, bd = None, None
                for (vi, vj) in valid_pts:
                    d = (vi - i) ** 2 + (vj - j) ** 2
                    if bd is None or d < bd:
                        bd, best = d, (vi, vj)
                out[i, j] = work[best]
    out[m == SKIP] = SKIP
    out[m == NODATA] = NODATA
    return out, "filled"


def clean_frame_oracle(frame):
    """pandas transcription of gapfiller.py:634-708."""
    df = pd.DataFrame(np.asarray(frame, dtype=np.float64))
    if any(v == SKIP for v in np.array(df)[:, -1]):
        return "skip"
    df = df.replace(SKIP, np.nan).dropna(axis="columns")
    df.columns = [str(i) for i in range(len(df.columns))]
    df = df.replace(NODATA, np.nan).replace(GAP, np.nan)
    df = df.dropna(how="all")
    last = np.ravel(np.array(df.iloc[-1:, :-1]))
    na_cols = [str(i) for i in np.ravel(np.argwhere(np.isnan(last)))]
    if na_cols:
        df = df.drop(na_cols, axis=1)
        df.columns = [str(i) for i in range(len(df.columns))]
    for i in range(len(df.columns) - 1):
        col = str(i)
        med = np.median(np.array(df[col].dropna()))
        df[col] = df[col].fillna(med)
    train = df.iloc[:-1, :].dropna()
    test = df.iloc[-1:, :]
    return (np.array(train.iloc[:, :-1]), np.array(train.iloc[:, -1]),
            np.array(test.iloc[:, :-1]))


def knn_predict_oracle(X_train, y_train, X_test, k, weights="uniform"):
    """Naive kNN regression (loop), stable order by (distance, index)."""
    out = []
    for x in np.asarray(X_test, dtype=float):
        d = [(float(np.sqrt(((x - xt) ** 2).sum())), i)
             for i, xt in enumerate(np.asarray(X_train, dtype=float))]
        d.sort()
        top = d[: min(k, len(d))]
        ys = np.array([y_train[i] for _, i in top], dtype=float)
        if weights == "distance":
            ds = np.array([dd for dd, _ in top])
            if (ds < 1e-12).any():
                out.append(ys[ds < 1e-12].mean())
            else:
                w = 1.0 / ds
                out.append(float((ys * w).sum() / w.sum()))
        else:
            out.append(float(ys.mean()))
    return np.array(out)


def k_nearest_coords_oracle(coords, target, k):
    """40×argmin selection with first-index tie-break
    (gapfiller.py:519-530), transcribed with the set-to-inf loop."""
    coords = np.asarray(coords, dtype=float)
    d = np.sqrt(((coords - np.asarray(target, dtype=float)) ** 2).sum(axis=1))
    d = d.copy()
    picked = []
    for _ in range(min(k, len(coords))):
        i = int(np.argmin(d))
        picked.append(coords[i])
        d[i] = np.inf
    return np.array(picked)


def discretize_oracle(matrices_dict, timestep_hours=12, averaging="None",
                      filling_method="None", n_neighbors=5, poly_degree=2):
    """Naive transcription of Discretizator (timeseries.py:60-310):
    dict{datetime: matrix} -> (tensor, centroids)."""
    import datetime as dt

    keys = sorted(matrices_dict)
    example = matrices_dict[keys[0]]
    rows, cols = example.shape
    start = dt.datetime(keys[0].year, keys[0].month, keys[0].day)
    last = keys[-1] + dt.timedelta(days=1)
    end = dt.datetime(last.year, last.month, last.day)
    step = dt.timedelta(hours=timestep_hours)
    times = []
    t = start
    while t <= end:
        times.append(t)
        t += step
    tensor, centroids = [], []
    for i in range(len(times) - 1):
        centroid = times[i] + (times[i + 1] - times[i]) / 2
        suitable = [k for k in keys if times[i] <= k < times[i + 1]]
        if len(suitable) == 0:
            if i == len(times) - 2:
                break
            matrix = np.full((rows, cols), GAP)
        elif len(suitable) == 1:
            matrix = matrices_dict[suitable[0]].astype(float)
        else:
            dists = np.array([abs((k - centroid).total_seconds()) for k in suitable])
            batch = np.array([matrices_dict[k] for k in suitable], dtype=float)
            if averaging == "None":
                matrix = matrices_dict[suitable[int(np.argmin(dists))]].astype(float)
            elif averaging == "simple":
                matrix = batch.mean(axis=0)
            elif averaging == "weighted":
                order = np.argsort(dists)
                weights = np.empty(len(dists))
                wgt = len(dists)
                for idx in order:
                    weights[idx] = wgt
                    wgt -= 1
                matrix = np.average(batch, axis=0, weights=weights)
        tensor.append(matrix)
        centroids.append(centroid)
    tensor = np.array(tensor)

    def gap_process(series):
        i_gaps = np.ravel(np.argwhere(series == GAP))
        if filling_method in (None, "None"):
            return series
        for g in i_gaps:
            i_known = np.ravel(np.argwhere(series != GAP))
            d = np.abs(i_known - g)
            idx = np.argsort(d)[:n_neighbors]
            vals = np.array([series[i_known[i]] for i in idx])
            if filling_method == "median":
                series[g] = np.nanmedian(vals)
            elif filling_method == "poly":
                coefs = np.polyfit(i_known[idx], vals, poly_degree)
                series[g] = np.polyval(coefs, g)
        return series

    for r in range(tensor[0].shape[0]):
        for c in range(tensor[0].shape[1]):
            s = tensor[:, r, c]
            if any(v == SKIP for v in s):
                s = np.full(len(s), SKIP)
            elif any(v == GAP for v in s):
                s = gap_process(s)
            tensor[:, r, c] = s
    return tensor, centroids


# ---------------------------------------------------------------------
# Full-pipeline naive oracles (round 2). These transcribe the engine's
# *documented determinism spec* (seeding scheme) plus the reference
# semantics with deliberately-naive loops, and are the source of the
# DuckDB fixture parquet for the r01-r08 contract checks
# (scripts/make_raster_fixtures.py). They import nothing from
# ssgp_toolbox_spark.kernels/operators.
# ---------------------------------------------------------------------


def pixel_rng(seed, r, c):
    """Determinism spec: per-(image, pixel) RNG (``frame._pixel_seed``)."""
    return np.random.default_rng(
        (seed * 1_000_003 + r * 8191 + c) % (2**63 - 1)
    )


def cv_seed(seed, n_train):
    """Determinism spec: CV fold seed (``frame.cv_seed``)."""
    return (seed * 2_654_435_761 + n_train * 97) % (2**63 - 1)


def stable_seed(image_id):
    import zlib

    return zlib.crc32(image_id.encode()) & 0x7FFFFFFF


def _knn_predict_uniform(X, y, Xt, k):
    """Naive uniform-weight kNN regression ordered by (squared
    distance, train index) — the sklearn KNeighborsRegressor contract
    the reference relies on (gapfiller.py:300-340)."""
    preds = []
    X = np.asarray(X, float)
    y = np.asarray(y, float).ravel()
    kk = min(k, len(X))
    for x in np.asarray(Xt, float):
        d2 = [(float(((x - xi) ** 2).sum()), i) for i, xi in enumerate(X)]
        d2.sort()
        preds.append(float(np.mean(np.array([y[i] for _, i in d2[:kk]]))))
    return np.array(preds)


def _kfold(n, k, rng):
    perm = rng.permutation(n)
    sizes = np.full(k, n // k)
    sizes[: n % k] += 1
    folds, pos = [], 0
    for s in sizes:
        folds.append(perm[pos : pos + s])
        pos += s
    return folds


def _knn_cv_then_fill(X_train, y_train, X_test, k, seed):
    """Custom-hyperparameter kNN: 3-fold shuffled CV neg-MAE score,
    then predict (reference gapfiller.py:300-340 with the no-CV
    train-MAE fallback of :737-739). Returns (prediction, |score|)."""
    n = len(y_train)
    cv = 3
    if n < cv:
        pred = _knn_predict_uniform(X_train, y_train, X_test, k)
        train_pred = _knn_predict_uniform(X_train, y_train, X_train, k)
        score = float(np.mean(np.abs(train_pred - y_train)))
        return float(pred[0]), abs(score)
    rng = np.random.default_rng(seed)
    scores = []
    for fold in _kfold(n, cv, rng):
        mask = np.ones(n, dtype=bool)
        mask[fold] = False
        p = _knn_predict_uniform(X_train[mask], y_train[mask], X_train[fold], k)
        scores.append(-float(np.mean(np.abs(p - y_train[fold]))))
    pred = _knn_predict_uniform(X_train, y_train, X_test, k)
    return float(pred[0]), abs(float(np.mean(scores)))


def _k_nearest_first_index(coords, target, k):
    """40×argmin with first-index tie-break (gapfiller.py:519-530)."""
    coords = np.asarray(coords, float)
    d = np.sqrt(((coords - np.asarray(target, float)) ** 2).sum(axis=1))
    picked = []
    d = d.copy()
    for _ in range(min(k, len(coords))):
        i = int(np.argmin(d))
        picked.append(coords[i])
        d[i] = np.inf
    return np.array(picked)


def gapfill_image_oracle(final, tensor, extra, seed, k=5,
                         predictor_configuration="Biome"):
    """Naive per-pixel transcription of the full gapfill dataflow
    (gapfiller.py:600-781) for method='Knn', hyperparameters='Custom':
    predictor selection → frame build → clean_frame_oracle → 3-fold CV
    + kNN fill. Returns (filled matrix, list of |CV-MAE| scores)."""
    final = np.asarray(final, float)
    filled = final.copy()
    scores = []
    for r, c in np.argwhere(final == GAP):
        r, c = int(r), int(c)
        rng = pixel_rng(seed, r, c)
        if predictor_configuration == "Biome":
            code = extra[r, c]
            masked = np.where(final == GAP, GAP, extra)
            cands = np.argwhere(masked == code)
            if len(cands) > 41:
                sel = _k_nearest_first_index(cands, (r, c), 40)
            else:
                valid = np.argwhere(
                    (final != GAP) & (final != SKIP) & (final != NODATA))
                chosen = valid[rng.permutation(len(valid))[:101]]
                sel = _k_nearest_first_index(chosen, (r, c), 40)
            coords = np.vstack([sel.astype(int), [(r, c)]])
        elif predictor_configuration == "Random":
            valid = np.argwhere(
                (final != GAP) & (final != SKIP) & (final != NODATA))
            chosen = valid[rng.permutation(len(valid))[:101]]
            coords = np.vstack([chosen, [(r, c)]])
        else:
            raise ValueError(predictor_configuration)
        hist = tensor[:, coords[:, 0], coords[:, 1]]
        last = final[coords[:, 0], coords[:, 1]]
        frame = np.vstack([hist, last[None, :]])
        res = clean_frame_oracle(frame)
        if isinstance(res, str):
            filled[r, c] = SKIP
            continue
        X_train, y_train, X_test = res
        pred, score = _knn_cv_then_fill(
            np.asarray(X_train, float), np.asarray(y_train, float).ravel(),
            np.asarray(X_test, float), k, cv_seed(seed, len(y_train)))
        filled[r, c] = pred
        scores.append(score)
    return filled, scores


def sequential_gapfill_oracle(inputs, tensor, seed_fn, k=5):
    """add_outputs=True chaining (gapfiller.py:788-790): fill inputs in
    ts order, appending each filled layer to the training stack.
    ``inputs``: list of (image_id, matrix) in chronological order."""
    results = []
    stack = np.asarray(tensor, float)
    for image_id, m in inputs:
        filled, scores = gapfill_image_oracle(
            m, stack, None, seed_fn(image_id), k=k,
            predictor_configuration="Random")
        results.append((image_id, filled, scores))
        stack = np.concatenate([stack, filled[None, :, :]])
    return results


def whole_image_fills(rows, method, predictor_configuration,
                      hyperparameters, params, min_valid=101):
    """No-Spark reference of ``gapfill``'s output: every viable input
    with gaps is filled by ONE whole-image kernel call (no gap slices,
    no tasks) against its site's ts-sorted history stack, and encoded
    as the operator encodes it. Knn/Custom runs the product kernel
    (``batch.fill_image``, checked against ``fill_image_per_pixel`` in
    tests/test_batch_fill.py); every other method runs the per-pixel
    reference. ``rows``: collected image rows with the stats columns.
    An input whose site has no history rows (or, under Biome, no extra
    layer) is left out, as the operator leaves it out. Returns image_id -> (filled, scores, (bytes, filled_px,
    phash, mean_cv_mae hex))."""
    from ssgp_toolbox_spark import codecs
    from ssgp_toolbox_spark.kernels import batch

    def dec(r):
        return codecs.decode(bytes(r["bytes"]), r["h"], r["w"], r["fmt"])

    out = {}
    for r in rows:
        if (r["role"] != "input" or r["valid_px"] <= min_valid
                or r["gap_count"] == 0):
            continue
        hist = sorted((h for h in rows if h["role"] == "history"
                       and h["site"] == r["site"]), key=lambda h: h["ts"])
        extras = [e for e in rows
                  if e["role"] == "extra" and e["site"] == r["site"]]
        if not hist or (predictor_configuration == "Biome" and not extras):
            continue
        final = dec(r)
        kw = dict(extra=dec(extras[0]) if extras else None,
                  predictor_configuration=predictor_configuration,
                  hyperparameters=hyperparameters, params=params,
                  seed=stable_seed(r["image_id"]))
        tensor = np.stack([dec(h) for h in hist])
        if method == "Knn" and hyperparameters == "Custom":
            filled, scores = batch.fill_image(final, tensor, method=method,
                                              **kw)
        else:
            filled, scores = fill_image_per_pixel(final, tensor,
                                                  method=method, **kw)
        mean = float(np.mean(scores)) if len(scores) else float("nan")
        out[r["image_id"]] = (filled, scores, (
            codecs.encode(filled, r["fmt"]), int((final == GAP).sum()),
            codecs.phash64(filled), mean.hex()))
    return out


def cellular_expand_oracle(matrix, biome, iters, seed, gap=GAP):
    """Naive transcription of the cloud-expansion automaton
    (common_functions.py:34-193) with the engine's seeding spec: one
    seeded rng per image, one draw per candidate in row-major scan
    order, iterated ``iters`` times."""
    m = np.asarray(matrix, float).copy()
    b = np.asarray(biome, float).copy()
    rng = np.random.default_rng(seed)
    h, w = m.shape
    for _ in range(iters):
        b[m == gap] = gap
        nxt = m.copy()
        vals = m[m != gap]
        if vals.size == 0:
            m = nxt
            continue
        amplitude = float(vals.max() - vals.min())
        valid_coords = np.argwhere(m != gap)
        for i in range(h):
            for j in range(w):
                if m[i, j] == gap:
                    continue
                i0, i1 = max(i - 1, 0), min(i + 2, h)
                j0, j1 = max(j - 1, 0), min(j + 2, w)
                n_cloud = int((m[i0:i1, j0:j1] == gap).sum())
                if n_cloud == 0:
                    continue
                prob = rng.random()
                if n_cloud >= 8:
                    fact = 0.8
                elif n_cloud == 7:
                    fact = 0.85
                elif n_cloud == 6:
                    fact = 0.9
                elif n_cloud == 5:
                    fact = 0.95
                else:
                    fact = 0.99
                code = b[i, j]
                coords = np.argwhere(b == code)
                if len(coords) < 41:
                    coords = valid_coords
                d = np.sqrt(((coords - np.array([i, j])) ** 2)
                            .sum(axis=1).astype(float))
                picked = []
                dd = d.copy()
                for _k in range(min(40, len(coords))):
                    ii = int(np.argmin(dd))
                    picked.append(coords[ii])
                    dd[ii] = np.inf
                sel = np.array(picked)
                med = float(np.median(m[sel[:, 0], sel[:, 1]]))
                value = (m[i, j] - med) / amplitude if amplitude != 0 else 0.0
                if value >= 0 or n_cloud < 3:
                    continue
                if prob >= fact + value:
                    nxt[i, j] = gap
        m = nxt
    return m


def phash64_oracle(matrix, gap=GAP, skip=SKIP, nodata=NODATA):
    """Naive transcription of the engine's documented 64-bit DCT
    perceptual hash (codecs.py:181-201): median-fill sentinels, 32×32
    block-mean resize, DCT-II, top-left 8×8 vs median (DC skipped).
    ``gap``/``skip``/``nodata`` mirror the key_values override."""
    m = np.asarray(matrix, float)
    inv = (m == gap) | (m == skip) | (m == nodata)
    fill = 0.0 if inv.all() else float(np.median(m[~inv]))
    m = np.where(inv, fill, m)
    h, w = m.shape
    n = 32
    out = np.zeros((n, n))
    cnt = np.zeros((n, n))
    for i in range(h):
        ri = min((i * n) // max(h, 1), n - 1)
        for j in range(w):
            ci = min((j * n) // max(w, 1), n - 1)
            out[ri, ci] += m[i, j]
            cnt[ri, ci] += 1.0
    cnt[cnt == 0] = 1.0
    small = out / cnt
    kk = np.arange(n)[:, None]
    ii = np.arange(n)[None, :]
    d = np.cos(np.pi / n * (ii + 0.5) * kk) * np.sqrt(2.0 / n)
    d[0] /= np.sqrt(2.0)
    coef = d @ small @ d.T
    block = coef[:8, :8].ravel()
    med = np.median(block[1:])
    val = np.uint64(0)
    for bit in (block > med).astype(np.uint64):
        val = (val << np.uint64(1)) | bit
    return int(val.astype(np.int64))


def phash64_add_at(matrix, gap=GAP, skip=SKIP, nodata=NODATA):
    """The engine's phash64 before it was vectorized, kept as the
    bit-parity reference: ``np.add.at`` block sums and a 64-step bit
    loop. ``gap``/``skip``/``nodata`` mirror the key_values override."""
    m = np.asarray(matrix, dtype=np.float64)
    inv = (m == gap) | (m == skip) | (m == nodata)
    fill = 0.0 if inv.all() else float(np.median(m[~inv]))
    m = np.where(inv, fill, m)
    h, w = m.shape
    n = 32
    ri = np.minimum((np.arange(h) * n) // max(h, 1), n - 1)
    ci = np.minimum((np.arange(w) * n) // max(w, 1), n - 1)
    out = np.zeros((n, n))
    cnt = np.zeros((n, n))
    np.add.at(out, (ri[:, None].repeat(w, 1), ci[None, :].repeat(h, 0)), m)
    np.add.at(cnt, (ri[:, None].repeat(w, 1), ci[None, :].repeat(h, 0)), 1.0)
    cnt[cnt == 0] = 1.0
    small = out / cnt
    kk = np.arange(n)[:, None]
    ii = np.arange(n)[None, :]
    d = np.cos(np.pi / n * (ii + 0.5) * kk) * np.sqrt(2.0 / n)
    d[0] /= np.sqrt(2.0)
    coef = d @ small @ d.T
    block = coef[:8, :8].ravel()
    med = np.median(block[1:])
    val = np.uint64(0)
    for bit in (block > med).astype(np.uint64):
        val = (val << np.uint64(1)) | bit
    return int(val.astype(np.int64))


def nn_fill_values(points, values, targets, chunk=1024):
    """Brute-force 1-NN over a point cloud: the value of the nearest of
    ``points`` for each of ``targets``, ties broken by first index
    (stable argmin), O(targets × points). The reference the grid form
    ``kernels/nn.nn_lookup_grid`` is compared against."""
    out = np.empty(len(targets), dtype=values.dtype)
    pts = points.astype(np.float64)
    for s in range(0, len(targets), chunk):
        t = targets[s : s + chunk].astype(np.float64)
        d2 = ((t[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2)
        out[s : s + chunk] = values[np.argmin(d2, axis=1)]
    return out


def nn_fill_fast_oracle(m):
    """Same semantics as nn_fill_oracle (gapfiller.py:920-962) but the
    per-target search vectorized (argmin over the row-major valid
    list preserves the first-index tie-break) — used for fixture
    generation where the double-python-loop version is too slow."""
    m = np.asarray(m, float)
    invalid = (m == GAP) | (m == SKIP) | (m == NODATA)
    if (~invalid).sum() <= 10:
        return m.copy(), "not_enough_valid"
    if (m == GAP).sum() == 0:
        return m.copy(), "passthrough"
    work = m.copy()
    work[(work == SKIP) | (work == NODATA)] = GAP
    valid = np.argwhere(work != GAP)
    out = work.copy()
    for (i, j) in np.argwhere(work == GAP):
        d2 = (valid[:, 0] - i) ** 2 + (valid[:, 1] - j) ** 2
        v = valid[np.argmin(d2)]
        out[i, j] = work[v[0], v[1]]
    out[m == SKIP] = SKIP
    out[m == NODATA] = NODATA
    return out, "filled"


def lasso_cd_oracle(X, y, alpha, max_iter=500, tol=1e-6):
    """Cyclic-coordinate-descent Lasso on the standard objective
    (1/2n)||y - Xw - b||² + alpha||w||₁ — the engine's documented
    solver spec (kernels/regressors.py LassoRegressor), retraced here
    step for step so the r09 fixture is reproducible outside the
    engine. Returns (w, intercept)."""
    X = np.ascontiguousarray(X, dtype=float)
    y = np.asarray(y, float).ravel()
    n, p = X.shape
    xm = X.mean(axis=0)
    ym = y.mean()
    Xc = X - xm
    yc = y - ym
    w = np.zeros(p)
    col_sq = (Xc**2).sum(axis=0)
    r = yc - Xc @ w
    lam = alpha * n
    for _ in range(max_iter):
        w_max = d_max = 0.0
        for j in range(p):
            if col_sq[j] == 0.0:
                continue
            wj = w[j]
            rho = Xc[:, j] @ r + col_sq[j] * wj
            wn = np.sign(rho) * max(abs(rho) - lam, 0.0) / col_sq[j]
            if wn != wj:
                r += Xc[:, j] * (wj - wn)
                w[j] = wn
            d_max = max(d_max, abs(wn - wj))
            w_max = max(w_max, abs(wn))
        if w_max == 0.0 or d_max / max(w_max, 1e-30) < tol:
            break
    return w, ym - xm @ w


def _lasso_predict(X, w, b):
    return np.asarray(X, float) @ w + b


def _kfold_seq(n, k):
    """sklearn KFold(shuffle=False): contiguous folds, first n%k get
    the extra row — the split GridSearchCV/RandomizedSearchCV use."""
    sizes = np.full(k, n // k)
    sizes[: n % k] += 1
    folds, pos = [], 0
    idx = np.arange(n)
    for s in sizes:
        folds.append(idx[pos : pos + s])
        pos += s
    return folds


def lasso_grid_fit_predict(X_train, y_train, X_test):
    """Full-grid Lasso search (alpha = arange(1, 800, 50), reference
    gapfiller.py:140) scored by 3-fold sequential-split neg-MAE, then
    refit + predict; train-MAE fallback when n < 3. Returns
    (prediction, |score|)."""
    X_train = np.asarray(X_train, float)
    y_train = np.asarray(y_train, float).ravel()
    n = len(y_train)
    alphas = list(np.arange(1, 800, 50))
    if n < 3:
        # no-CV fallback fits with the base params only (the engine's
        # no_cv() path; alpha defaults to 1.0)
        w, b = lasso_cd_oracle(X_train, y_train, 1.0)
        pred = _lasso_predict(X_test, w, b)
        score = float(np.mean(np.abs(_lasso_predict(X_train, w, b) - y_train)))
        return float(np.ravel(pred)[0]), abs(score)
    folds = _kfold_seq(n, 3)
    best_alpha, best_score = None, -np.inf
    for a in alphas:
        scores = []
        for fold in folds:
            mask = np.ones(n, dtype=bool)
            mask[fold] = False
            w, b = lasso_cd_oracle(X_train[mask], y_train[mask], a)
            p = _lasso_predict(X_train[fold], w, b)
            scores.append(-float(np.mean(np.abs(p - y_train[fold]))))
        s = float(np.mean(scores))
        if s > best_score:
            best_alpha, best_score = a, s
    w, b = lasso_cd_oracle(X_train, y_train, best_alpha)
    pred = _lasso_predict(X_test, w, b)
    return float(np.ravel(pred)[0]), abs(best_score)


def gapfill_lasso_grid_image_oracle(final, tensor, extra, seed):
    """Naive per-pixel gapfill with method='Lasso',
    hyperparameters='RandomGridSearch' (full grid for Lasso,
    RANDOM_N_ITER['Lasso'] is None), Biome predictors — deterministic
    end to end (sequential folds, no candidate sampling)."""
    final = np.asarray(final, float)
    filled = final.copy()
    scores = []
    for r, c in np.argwhere(final == GAP):
        r, c = int(r), int(c)
        rng = pixel_rng(seed, r, c)
        code = extra[r, c]
        masked = np.where(final == GAP, GAP, extra)
        cands = np.argwhere(masked == code)
        if len(cands) > 41:
            sel = _k_nearest_first_index(cands, (r, c), 40)
        else:
            valid = np.argwhere(
                (final != GAP) & (final != SKIP) & (final != NODATA))
            chosen = valid[rng.permutation(len(valid))[:101]]
            sel = _k_nearest_first_index(chosen, (r, c), 40)
        coords = np.vstack([sel.astype(int), [(r, c)]])
        hist = tensor[:, coords[:, 0], coords[:, 1]]
        last = final[coords[:, 0], coords[:, 1]]
        res = clean_frame_oracle(np.vstack([hist, last[None, :]]))
        if isinstance(res, str):
            filled[r, c] = SKIP
            continue
        X_train, y_train, X_test = res
        pred, score = lasso_grid_fit_predict(
            np.asarray(X_train, float), np.asarray(y_train, float).ravel(),
            np.asarray(X_test, float))
        filled[r, c] = pred
        scores.append(score)
    return filled, scores


def swath_ingest_oracle(zip_bytes, extent, x_res, y_res):
    """NAIVE per-pixel transcription of the S3 preparator chain
    (S3_L2_LST.py:93-234): explicit loops for flag decode, flip,
    lat-band trim, and a per-target-cell nearest-point warp. Only the
    forward UTM projection is shared (a closed-form math primitive)."""
    import io
    import zipfile

    from ssgp_toolbox_spark import geometry
    from ssgp_toolbox_spark.io import netcdf

    CLOUD_CONF_BIT, CLOUD_BAYES_BIT, LAT_MARGIN_DEG = 16384, 2, 10.0

    def utm_code_for_extent(ext):
        # independent transcription of S3_L2_LST.py:66-88
        base = 32700 if (ext["minY"] + ext["maxY"]) / 2 < 0 else 32600
        zone = int(((ext["minX"] + ext["maxX"]) / 2 + 180) / 6.0 % 60) + 1
        south = base == 32700
        x0, y0 = geometry.utm_project(ext["minX"], ext["minY"], zone, south=south)
        x1, y1 = geometry.utm_project(ext["maxX"], ext["maxY"], zone, south=south)
        return base + zone, {"minX": float(x0), "minY": float(y0),
                             "maxX": float(x1), "maxY": float(y1)}

    arrs = {}
    with zipfile.ZipFile(io.BytesIO(zip_bytes)) as zf:
        for m in zf.namelist():
            v, _ = netcdf.read_netcdf(zf.read(m))
            arrs.update({k: np.asarray(a) for k, a in v.items()})
    lst = arrs["LST"].astype(np.float64).copy()
    h, w = lst.shape
    for r in range(h):
        for c in range(w):
            if int(arrs["confidence_in"][r, c]) & CLOUD_CONF_BIT:
                lst[r, c] = GAP
            if int(arrs["bayes_in"][r, c]) & CLOUD_BAYES_BIT:
                lst[r, c] = GAP
            if int(arrs["biome"][r, c]) == 0:
                lst[r, c] = SKIP
    # explicit flip
    flip = lambda a: a[::-1, :].copy()
    lst, lat, lon = flip(lst), flip(arrs["latitude_in"].astype(np.float64)), \
        flip(arrs["longitude_in"].astype(np.float64))
    hi = extent["maxY"] + LAT_MARGIN_DEG
    lo = extent["minY"] - LAT_MARGIN_DEG
    keep_rows = [r for r in range(h)
                 if all(lo <= lat[r, c] <= hi for c in range(w))]
    lst, lat, lon = lst[keep_rows], lat[keep_rows], lon[keep_rows]

    code, utm_ext = utm_code_for_extent(extent)
    zone, south = code % 100, code // 100 == 327
    gw = max(int(np.ceil((utm_ext["maxX"] - utm_ext["minX"]) / x_res)), 1)
    gh = max(int(np.ceil((utm_ext["maxY"] - utm_ext["minY"]) / y_res)), 1)
    best = {}
    for r in range(lst.shape[0]):
        for c in range(lst.shape[1]):
            x, y = geometry.utm_project(lon[r, c], lat[r, c], zone, south=south)
            col = int(np.floor((x - utm_ext["minX"]) / x_res))
            row = int(np.floor((utm_ext["maxY"] - y) / y_res))
            if not (0 <= col < gw and 0 <= row < gh):
                continue
            ccx = utm_ext["minX"] + (col + 0.5) * x_res
            ccy = utm_ext["maxY"] - (row + 0.5) * y_res
            d2 = (x - ccx) ** 2 + (y - ccy) ** 2
            if (row, col) not in best or d2 < best[(row, col)][0]:
                best[(row, col)] = (d2, lst[r, c])
    grid = np.full((gh, gw), NODATA, dtype=np.float64)
    for (row, col), (_, v) in best.items():
        grid[row, col] = v
    return grid


def modis_ingest_oracle(lst_raw, qc, geotransform, extent, x_res, y_res,
                        qa_policy=0):
    """NAIVE transcription of the MODIS A1/A2 chain
    (MODIS_MOD_MYD_11.py:105-129, 154-216): per-pixel loops for the
    two-bit QC policy, /50 scale, sentinel overrides, closed-form
    sinusoidal inverse, and the per-cell nearest warp."""
    from ssgp_toolbox_spark import geometry

    R = 6371007.181
    h, w = lst_raw.shape
    base = 32700 if (extent["minY"] + extent["maxY"]) / 2 < 0 else 32600
    zone = int(((extent["minX"] + extent["maxX"]) / 2 + 180) / 6.0 % 60) + 1
    south = base == 32700
    x0e, y0e = geometry.utm_project(extent["minX"], extent["minY"], zone, south=south)
    x1e, y1e = geometry.utm_project(extent["maxX"], extent["maxY"], zone, south=south)
    gw = max(int(np.ceil((x1e - x0e) / x_res)), 1)
    gh = max(int(np.ceil((y1e - y0e) / y_res)), 1)

    gx0, dx, _, gy0, _, dy = geotransform
    best = {}
    for r in range(h):
        for c in range(w):
            q = int(qc[r, c])
            if q == -1:
                q = -32768
            two = q & 3
            if q == -32768:
                v = NODATA
            elif two == 3:
                v = SKIP
            elif (qa_policy == 0 and two in (1, 2)) or \
                 (qa_policy == 1 and two == 2):
                v = GAP
            else:
                v = float(lst_raw[r, c]) / 50.0
            sx = gx0 + (c + 0.5) * dx
            sy = gy0 + (r + 0.5) * dy
            lat = np.rad2deg(sy / R)
            lon = np.rad2deg(sx / (R * np.cos(np.deg2rad(lat))))
            X, Y = geometry.utm_project(lon, lat, zone, south=south)
            col = int(np.floor((X - x0e) / x_res))
            row = int(np.floor((y1e - Y) / y_res))
            if not (0 <= col < gw and 0 <= row < gh):
                continue
            ccx = x0e + (col + 0.5) * x_res
            ccy = y1e - (row + 0.5) * y_res
            d2 = (X - ccx) ** 2 + (Y - ccy) ** 2
            if (row, col) not in best or d2 < best[(row, col)][0]:
                best[(row, col)] = (d2, v)
    grid = np.full((gh, gw), NODATA, dtype=np.float64)
    for (row, col), (_, v) in best.items():
        grid[row, col] = v
    return grid


def mod09_ingest_oracle(bands, qc, geotransform, extent, x_res, y_res,
                        product="ndvi", qa_policy=0):
    """NAIVE transcription of the MOD09GA reflectance chain
    (MODIS_Reflectance_Products_MOD09GA.py:84-203): per-pixel loops
    for the MOD09 two-bit QC policy (NO skip class; '11' is OK at
    policy 0), /10000 band scale, NDVI or Liang albedo with range
    clamps, quality overrides, closed-form sinusoidal inverse, and the
    per-cell nearest warp."""
    from ssgp_toolbox_spark import geometry

    R = 6371007.181
    h, w = qc.shape
    base = 32700 if (extent["minY"] + extent["maxY"]) / 2 < 0 else 32600
    zone = int(((extent["minX"] + extent["maxX"]) / 2 + 180) / 6.0 % 60) + 1
    south = base == 32700
    x0e, y0e = geometry.utm_project(extent["minX"], extent["minY"], zone, south=south)
    x1e, y1e = geometry.utm_project(extent["maxX"], extent["maxY"], zone, south=south)
    gw = max(int(np.ceil((x1e - x0e) / x_res)), 1)
    gh = max(int(np.ceil((y1e - y0e) / y_res)), 1)

    gx0, dx, _, gy0, _, dy = geotransform
    best = {}
    for r in range(h):
        for c in range(w):
            q = int(qc[r, c])
            if q == -1:
                q = -32768
            two = q & 3
            if product == "ndvi":
                red = float(bands[1][r, c]) / 10000.0
                nir = float(bands[2][r, c]) / 10000.0
                v = (nir - red) / (nir + red) if nir + red != 0 else float("nan")
                if v > 1 or v < -1:
                    v = GAP
            else:
                sb = {b: float(bands[b][r, c]) / 10000.0
                      for b in (1, 2, 3, 4, 5, 7)}
                v = (0.160 * sb[1] + 0.291 * sb[2] + 0.243 * sb[3]
                     + 0.116 * sb[4] + 0.112 * sb[5] + 0.081 * sb[7]
                     - 0.0015)
                if v > 1 or v < 0:
                    v = GAP
            if (qa_policy == 0 and two in (1, 2)) or \
                    (qa_policy == 1 and two == 1):
                v = GAP
            if q == -32768:
                v = NODATA
            sx = gx0 + (c + 0.5) * dx
            sy = gy0 + (r + 0.5) * dy
            lat = np.rad2deg(sy / R)
            lon = np.rad2deg(sx / (R * np.cos(np.deg2rad(lat))))
            X, Y = geometry.utm_project(lon, lat, zone, south=south)
            col = int(np.floor((X - x0e) / x_res))
            row = int(np.floor((y1e - Y) / y_res))
            if not (0 <= col < gw and 0 <= row < gh):
                continue
            ccx = x0e + (col + 0.5) * x_res
            ccy = y1e - (row + 0.5) * y_res
            d2 = (X - ccx) ** 2 + (Y - ccy) ** 2
            if (row, col) not in best or d2 < best[(row, col)][0]:
                best[(row, col)] = (d2, v)
    grid = np.full((gh, gw), NODATA, dtype=np.float64)
    for (row, col), (_, v) in best.items():
        grid[row, col] = v
    return grid


def nn_fill_kv_oracle(m, gap, skip, nodata):
    """``nn_fill_fast_oracle`` under a custom ``key_values`` encoding
    (reference nn_interpolation key_values parameter,
    gapfiller.py:901-913, dict shape gapfiller.py:805): identical
    per-pixel transcription with the three sentinel codes
    parameterized."""
    m = np.asarray(m, float)
    invalid = (m == gap) | (m == skip) | (m == nodata)
    if (~invalid).sum() <= 10:
        return m.copy(), "not_enough_valid"
    if (m == gap).sum() == 0:
        return m.copy(), "passthrough"
    work = m.copy()
    work[(work == skip) | (work == nodata)] = gap
    valid = np.argwhere(work != gap)
    out = work.copy()
    for (i, j) in np.argwhere(work == gap):
        d2 = (valid[:, 0] - i) ** 2 + (valid[:, 1] - j) ** 2
        v = valid[np.argmin(d2)]
        out[i, j] = work[v[0], v[1]]
    out[m == skip] = skip
    out[m == nodata] = nodata
    return out, "filled"


# ---------------------------------------------------------------- ANN

def _r6(x):
    """Spark F.round / DuckDB round parity: HALF_UP (away from zero)
    at 6 decimals — the same floor(|x|*1e6+0.5) form the engine's
    Arrow kernels use (simsearch._assign_pandas_udf), sign-extended
    for the possibly-negative normalized components / cosines."""
    x = np.asarray(x, dtype=np.float64)
    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def ivf_pq_pairs_oracle(vec_ids, embeddings_f32, qids, k=5, n_cells=16,
                        lloyd_iters=2, n_probe=4, m=8, pq_ks=16,
                        rerank=32, pq_iters=10):
    """Naive single-machine transcription of simsearch.ivf_pq_topk's
    candidate SELECTION: which (qid, nid) pairs each query's final
    top-k contains, in rank order. Per-row loops throughout — no
    shared code with the engine. The sims themselves are NOT returned:
    the s05 oracle recomputes them in DuckDB with the s01/s04-proven
    cosine expression, so only the selection (robust under 6dp
    rounding) crosses through this fixture.

    Pipeline mirrored: f64 cast -> 6dp-normalize -> seeded Lloyd
    (argmin of 6dp-rounded squared L2, (dist, cid) tie-break, empty
    cell keeps previous centroid) -> residual PQ codebooks (per
    subspace, unrounded argmin, first-index ties, empty codeword
    keeps value, final 6dp round) -> corpus encode -> n_probe probe
    -> per-cell ADC table scan keeping `rerank` by (adc, nid) ->
    exact cosine rerank ranked (sim desc, nid)."""
    order = np.argsort(np.asarray(vec_ids))
    ids = np.asarray(vec_ids)[order]
    X0 = np.asarray(embeddings_f32, dtype=np.float64)[order]
    E = np.stack([_r6(row / np.sqrt(np.dot(row, row))) for row in X0])
    n, dim = E.shape
    dsub = dim // m

    def assign(V, cents):
        out = np.empty(len(V), dtype=int)
        for i, v in enumerate(V):
            d = _r6([np.dot(v - c, v - c) for c in cents])
            out[i] = int(np.argmin(d))          # first index = lowest cid
        return out

    cents = [E[i].copy() for i in range(n_cells)]   # lowest-nid seeds
    for _ in range(lloyd_iters):
        a = assign(E, cents)
        for cid in range(n_cells):
            members = E[a == cid]
            if len(members):
                cents[cid] = _r6(members.mean(axis=0))
    final_cid = assign(E, cents)
    C = np.stack(cents)

    # PQ codebooks over the residuals (train_cap covers the corpus
    # at fixture scale; unrounded distances like _pq_train_codebooks)
    R = E - C[final_cid]
    books = np.empty((m, pq_ks, dsub))
    for j in range(m):
        sub = R[:, j * dsub:(j + 1) * dsub]
        cb = sub[:pq_ks].copy()
        for _ in range(pq_iters):
            asg = np.empty(len(sub), dtype=int)
            for i, v in enumerate(sub):
                asg[i] = int(np.argmin([np.dot(v - c, v - c) for c in cb]))
            for c in range(pq_ks):
                mem = sub[asg == c]
                if len(mem):
                    cb[c] = mem.mean(axis=0)
        books[j] = cb
    books = books.round(6)

    codes = np.empty((n, m), dtype=int)
    for i in range(n):
        for j in range(m):
            sub = R[i, j * dsub:(j + 1) * dsub]
            codes[i, j] = int(np.argmin(
                [np.dot(sub - c, sub - c) for c in books[j]]))

    pairs = []
    for qid in sorted(qids):
        qi = int(np.flatnonzero(ids == qid)[0])
        qe = E[qi]
        d = _r6([np.dot(qe - c, qe - c) for c in cents])
        probe = np.lexsort((np.arange(n_cells), d))[:n_probe]
        cand = []
        for cid in probe:
            qres = qe - C[cid]
            tables = np.empty((m, pq_ks))
            for j in range(m):
                for c in range(pq_ks):
                    diff = qres[j * dsub:(j + 1) * dsub] - books[j][c]
                    tables[j][c] = np.dot(diff, diff)
            mem = np.flatnonzero((final_cid == cid) & (ids != qid))
            adc = np.array([tables[np.arange(m), codes[i]].sum()
                            for i in mem])
            keep = np.lexsort((ids[mem], adc))[:rerank]
            cand.extend(int(i) for i in mem[keep])
        sims = _r6([np.dot(qe, E[i])
                    / (np.sqrt(np.dot(qe, qe)) * np.sqrt(np.dot(E[i], E[i])))
                    for i in cand])
        top = np.lexsort((ids[cand], -sims))[:k]
        pairs.extend((int(qid), int(ids[cand[t]]), r + 1)
                     for r, t in enumerate(top))
    return pairs


# ------------------------------------- Catalyst forms of the ANN kernels
#
# The engine computes cosine, LSH keys, normalization and IVF cell
# selection with Arrow pandas-UDF kernels only. The pure-Catalyst
# higher-order-function (zip_with/aggregate/transform) and
# literal-centroid forms below are the arithmetic those kernels must
# reproduce value for value: the same expressions the DuckDB oracle SQL
# mirrors. Spark Column builders, imported lazily so the numpy oracles
# above stay Spark-free.

def _hof_sum(arr):
    from pyspark.sql import functions as F

    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def catalyst_cosine6(a, b):
    """F.round(cosine(a, b), 6) as a left-to-right Catalyst fold."""
    from pyspark.sql import functions as F

    dot = _hof_sum(F.zip_with(a, b, lambda x, y: x * y))
    na = F.sqrt(_hof_sum(F.transform(a, lambda x: x * x)))
    nb = F.sqrt(_hof_sum(F.transform(b, lambda x: x * x)))
    return F.round(dot / (na * nb), 6)


def catalyst_lsh_keys(emb_col, planes, bits_per_table, n_tables):
    """Per-table random-hyperplane bucket keys with the planes embedded
    as plan literals: table t packs the sign bits of planes
    [t*b, (t+1)*b). Returns an array<int> of ``n_tables`` keys."""
    from pyspark.sql import functions as F

    keys = []
    for t in range(n_tables):
        key = None
        for j in range(bits_per_table):
            h = planes[t * bits_per_table + j]
            dot = _hof_sum(F.zip_with(
                emb_col, F.array(*[F.lit(float(v)) for v in h]),
                lambda x, y: x * y))
            bit = F.when(dot > 0, F.lit(1)).otherwise(F.lit(0))
            key = bit if key is None else key * 2 + bit
        keys.append(key)
    return F.array(*keys)


def catalyst_normalize(df, vec_col="emb"):
    """Unit-normalize ``vec_col`` with per-element F.round(x / norm, 6)."""
    from pyspark.sql import functions as F

    norm = F.sqrt(_hof_sum(F.transform(F.col(vec_col), lambda x: x * x)))
    return df.withColumn(vec_col, F.transform(
        F.col(vec_col), lambda x: F.round(x / norm, 6)))


def _literal_cell_dists(emb_col, centroids):
    """Rounded squared-L2 distances to centroid literals (index = cid)."""
    from pyspark.sql import functions as F

    return [F.round(_hof_sum(F.zip_with(
                emb_col, F.array(*[F.lit(float(v)) for v in c]),
                lambda a, b: (a - b) * (a - b))), 6)
            for c in centroids]


def literal_ivf_assign(vectors, centroids, vec_col="emb", out_col="cid"):
    """argmin cell with (dist, cid) tie-break: ``array_position`` finds
    the FIRST minimum, i.e. the lowest cid among equal 6dp distances."""
    from pyspark.sql import functions as F

    d = F.array(*_literal_cell_dists(F.col(vec_col), centroids))
    return vectors.withColumn(
        out_col, (F.array_position(d, F.array_min(d)) - 1).cast("int"))


def literal_ivf_probe_cells(queries, centroids, n_probe, vec_col="qe",
                            out_col="cid"):
    """The ``n_probe`` nearest cells per query row, exploded, ranked by
    a (dist, cid) struct array_sort."""
    from pyspark.sql import functions as F

    structs = F.array(*[
        F.struct(d.alias("dist"), F.lit(cid).cast("int").alias("cid"))
        for cid, d in enumerate(
            _literal_cell_dists(F.col(vec_col), centroids))])
    picked = F.slice(F.array_sort(structs), 1, n_probe)
    return (queries.select("*", F.explode(picked).alias("_pc"))
            .withColumn(out_col, F.col("_pc.cid")).drop("_pc"))


def fill_gathered_knn(hist, last, k, weights, seed, sv=None):
    """The pairwise kNN fill core that the keyed core
    (``batch.fill_keyed_knn``) replaced, kept verbatim as its frozen
    reference: frame cleaning (F5b/F6/F8 masks, the sort-based median,
    A2 imputation) runs on every (gap px, predictor) pair of the
    pre-gathered blocks ``hist`` (L, P, C) and ``last`` (P, C), target
    coord last. Returns (preds (P,), |CV-MAE| scores (P,), skip mask
    (P,)). A fast-path pixel with an empty training set is left NaN,
    not skip, here; slow-path pixels go through ``frame.clean_frame``."""
    from ssgp_toolbox_spark.kernels import frame as FR
    from ssgp_toolbox_spark.kernels.batch import (_knn_fill_group,
                                                  _knn_slow_group)
    from ssgp_toolbox_spark.sentinels import DEFAULT_SENTINELS

    sv = sv or DEFAULT_SENTINELS
    P = last.shape[0]
    target_hist = hist[:, :, -1]                            # (L, P)

    # F5: any skip in the target column → output skip
    skip_px = (target_hist == sv.skip).any(axis=0)

    # ---- batched frame cleaning (F5b/F6/F7/F8/A2 re-expressed) -----
    # Column *drops* become zero-masking: kNN uses only pairwise
    # distances, and a column zeroed in every row (train and test)
    # contributes 0 — identical to dropping it. Median imputation is a
    # batched nanmedian. F7's all-NaN row drop is subsumed by the F9
    # target-validity row mask (an all-NaN row has a NaN target), and
    # its effect on medians is nil because its values are all NaN.
    # (perf, measured: np.nanmedian routes (L+1, P, C) inputs through
    # numpy's masked-array median — ~30% of the whole fill kernel —
    # and the old where/copy chain allocated three full-size
    # temporaries; the sort-based median below is bit-identical —
    # NaNs sort last, the two middle valid values average with the
    # same (a+b)/2 arithmetic — and the imputation mutates in place.)
    vals = np.concatenate([hist[:, :, :-1], last[None, :, :-1]])  # (L+1, P, C-1)
    col_keep = ~(vals == sv.skip).any(axis=0)               # F5b  (P, C-1)
    vals[(vals == sv.gap) | (vals == sv.nodata)] = np.nan   # F6
    col_keep &= ~np.isnan(vals[-1])                         # F8 (NaN at target row)
    tmp = np.where(col_keep, vals, np.nan)
    tmp.sort(axis=0, kind="stable")                          # NaNs sort last
    cnt = (~np.isnan(tmp)).sum(axis=0)                       # valid per column
    lo = np.maximum((cnt - 1) // 2, 0)[None, :, :]
    hi = (cnt // 2)[None, :, :]
    med = (np.take_along_axis(tmp, lo, axis=0)[0]
           + np.take_along_axis(tmp, hi, axis=0)[0]) / 2.0   # (P, C-1)
    med[cnt == 0] = np.nan                                   # all-NaN column
    np.copyto(vals, np.broadcast_to(med, vals.shape), where=np.isnan(vals))  # A2
    np.copyto(vals, 0.0, where=~col_keep[None, :, :])       # drop → zero-mask
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
    bad = (col_keep & np.isnan(med)).any(axis=1)
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
                continue  # empty train — leave NaN (reference would crash)
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
        res = FR.clean_frame(np.vstack([hist[:, s, :], last[s][None, :]]),
                             sv)
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


# ---------------------------------------------------------------------
# The per-pixel fill loop that ``batch.fill_image`` replaced, kept
# verbatim (from kernels/frame.py) as its frozen reference: selection
# is re-run for every gap pixel (``select_biome`` / ``select_random``
# / ``select_all``) and each frame is built on its own
# (``build_frame``). Cleaning and fitting are the product's
# (``frame.clean_frame``, ``regressors.fit_predict``).
#
# Known fault kept: the grid-search seed salt takes the numpy ints of
# ``for r, c in gaps``, so for an image seed below ~50,300 the salted
# seed is an np.int64 and the forests' ``seed * 1_000_003 + t`` wraps
# (ExtraTrees/RandomGridSearch at seed 21 raises "expected
# non-negative integer"). The product salts with Python ints. Parity
# tests of forest grid modes must use a large image seed.
# ---------------------------------------------------------------------


def select_all(final, coord, sv=None):
    """'All' strategy: every non-gap pixel (incl. skip/NoData — they
    are cleaned later), target appended last (gapfiller.py:438-443)."""
    from ssgp_toolbox_spark.sentinels import DEFAULT_SENTINELS

    sv = sv or DEFAULT_SENTINELS
    coords = np.argwhere(final != sv.gap)
    return np.vstack([coords, [coord]])


def select_random(final, coord, rng, sv=None):
    """'Random' strategy: 101 distinct valid coords, target appended
    last (gapfiller.py:457-486), from a seeded permutation of the
    valid set (``frame.random_pool``)."""
    from ssgp_toolbox_spark.kernels import frame as FR
    from ssgp_toolbox_spark.sentinels import DEFAULT_SENTINELS

    sv = sv or DEFAULT_SENTINELS
    valid = FR.random_pool(final, sv)
    chosen = valid[rng.permutation(len(valid))[:FR.N_RANDOM]]
    return np.vstack([chosen, [coord]])


def k_nearest(coords, coord, k):
    """k smallest Euclidean pixel distances with np.argmin first-index
    tie-break parity (gapfiller.py:519-530): sort by (distance, index)."""
    d = np.sqrt(((coords - np.array(coord)) ** 2).sum(axis=1).astype(np.float64))
    # stable argsort == lexsort((arange(n), d)): equal distances keep
    # ascending original-index order — same np.argmin first-index
    # parity, ~2x faster than the two-key lexsort
    order = np.argsort(d, kind="stable")[:k]
    return coords[order]


def select_biome(final, coord, extra, rng, sv=None):
    """'Biome' strategy (gapfiller.py:500-586): same-biome candidates
    not currently gapped; >41 → 40 nearest; else 101 random valid →
    40 nearest of those. Target appended last."""
    from ssgp_toolbox_spark.kernels import frame as FR
    from ssgp_toolbox_spark.sentinels import DEFAULT_SENTINELS

    sv = sv or DEFAULT_SENTINELS
    code = extra[coord[0], coord[1]]
    masked = np.where(final == sv.gap, sv.gap, extra)
    coords = np.argwhere(masked == code)
    if len(coords) > FR.BIOME_MIN:
        sel = k_nearest(coords, coord, FR.N_NEAREST)
    else:
        rand = select_random(final, coord, rng, sv)[:-1]  # drop appended target
        sel = k_nearest(rand, coord, FR.N_NEAREST)
    return np.vstack([sel, [coord]])


def build_frame(tensor, final, coords):
    """(layers+1, n_coords) frame: history series per coord + final-
    matrix value as the last row (gapfiller.py:446-454)."""
    hist = tensor[:, coords[:, 0], coords[:, 1]]
    last = final[coords[:, 0], coords[:, 1]]
    return np.vstack([hist, last[None, :]])


def fill_image_per_pixel(final, tensor, extra=None, method="Knn",
                         predictor_configuration="Random",
                         hyperparameters="Custom", params=None, seed=0,
                         gap_slice=None, sv=None):
    """Fill every gap pixel of ``final`` using the temporal stack
    ``tensor``, one pixel at a time; returns (filled matrix, list of
    |CV-MAE| scores). ``gap_slice=(lo, hi)`` fills only that
    positional range of the row-major gap scan."""
    from ssgp_toolbox_spark.kernels import regressors
    from ssgp_toolbox_spark.kernels.frame import clean_frame, cv_seed
    from ssgp_toolbox_spark.sentinels import DEFAULT_SENTINELS

    sv = sv or DEFAULT_SENTINELS
    gaps = np.argwhere(final == sv.gap)
    if gap_slice is not None:
        gaps = gaps[gap_slice[0] : gap_slice[1]]
    filled = final.copy()
    scores = []
    for r, c in gaps:
        rng = pixel_rng(seed, int(r), int(c))
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
        if isinstance(res, str):  # 'skip': skip target or empty train
            filled[r, c] = sv.skip
            continue
        X_train, y_train, X_test = res
        s = cv_seed(seed, len(y_train))
        if hyperparameters in ("RandomGridSearch", "GridSearch"):
            # grid modes sample candidates per PIXEL; r, c are numpy
            # ints here (the fault noted above)
            s = (s * 69069 + r * 8191 + c * 131) % (2**63 - 1)
        pred, score = regressors.fit_predict(
            method, hyperparameters, params, X_train, y_train, X_test,
            seed=s,
        )
        filled[r, c] = float(np.ravel(pred)[0])
        scores.append(abs(float(np.ravel(score).mean() if np.ndim(score) else score)))
    return filled, scores
