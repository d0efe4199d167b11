"""Kernel semantics: probe streams, split behavior, exact linear SHAP."""

import numpy as np
import pandas as pd
import pytest

from powershap_spark.kernel import (
    LinearRegressionModel,
    LogisticRegressionModel,
    explain_prepared,
    inject_probe_keyed,
    inject_probe_positional,
    linear_shap_values,
    prepare_block,
    train_test_split_indices,
)


def test_probe_positional_is_reference_stream():
    # exactly RandomState(i + seed_start).uniform(-1, 1, n)
    got = inject_probe_positional(100, iteration=3, seed_start=2)
    exp = np.random.RandomState(5).uniform(-1, 1, 100)
    assert np.array_equal(got, exp)


def test_probe_keyed_order_independent():
    keys = np.arange(1000, dtype=np.int64) * 7919
    a = inject_probe_keyed(keys, 4, 0)
    perm = np.random.RandomState(0).permutation(1000)
    b = inject_probe_keyed(keys[perm], 4, 0)
    assert np.allclose(a[perm], b)
    assert a.min() >= -1 and a.max() < 1
    # roughly uniform
    assert abs(a.mean()) < 0.1
    # different iteration -> different stream
    assert not np.allclose(a, inject_probe_keyed(keys, 5, 0))


def test_split_sorted_disjoint_sized():
    tr, va = train_test_split_indices(500, 0.2, seed=7)
    assert len(va) == 100 and len(tr) == 400
    assert np.array_equal(tr, np.sort(tr)) and np.array_equal(va, np.sort(va))
    assert not set(tr) & set(va)
    assert set(tr) | set(va) == set(range(500))
    # permutation semantics: val = first n_val of RandomState(seed).permutation
    perm = np.random.RandomState(7).permutation(500)
    assert set(va) == set(perm[:100])


def test_split_stratified_preserves_ratio():
    y = np.array([0] * 80 + [1] * 20)
    tr, va = train_test_split_indices(100, 0.25, seed=1, stratify=y)
    assert len(va) == 25
    assert (y[va] == 1).sum() == 5


def test_split_groups_keep_groups_whole():
    g = np.repeat(np.arange(10), 10)
    tr, va = train_test_split_indices(100, 0.3, seed=2, groups=g)
    assert not set(g[tr]) & set(g[va])


def test_linear_shap_exact():
    r = np.random.RandomState(0)
    Xtr, Xva = r.randn(50, 3), r.randn(10, 3)
    coef = np.array([2.0, -1.0, 0.5])
    phi = linear_shap_values(coef, Xtr, Xva)
    mu = Xtr.mean(axis=0)
    assert np.allclose(phi, (Xva - mu) * coef)
    # local accuracy: sum of phis = prediction - mean prediction
    assert np.allclose(phi.sum(axis=1), (Xva - mu) @ coef)


def test_linear_regression_recovers_coefficients():
    r = np.random.RandomState(1)
    X = r.randn(2000, 4)
    beta = np.array([3.0, -2.0, 0.0, 1.0])
    y = X @ beta + 5.0 + 0.01 * r.randn(2000)
    m = LinearRegressionModel().fit(X, y)
    assert np.allclose(m.coef_, beta, atol=1e-2)
    assert m.intercept_ == pytest.approx(5.0, abs=1e-2)


def test_logistic_regression_separates():
    r = np.random.RandomState(2)
    X = r.randn(3000, 3)
    z = 2 * X[:, 0] - 1 * X[:, 1]
    y = (z + 0.1 * r.randn(3000) > 0).astype(float)
    m = LogisticRegressionModel().fit(X, y)
    # direction recovered: large positive coef0, negative coef1, ~0 coef2
    assert m.coef_[0] > 1.0 and m.coef_[1] < -0.5
    assert abs(m.coef_[2]) < 0.35 * abs(m.coef_[0])
    pred = (m.decision_function(X) > 0).astype(float)
    assert (pred == y).mean() > 0.95


def test_explain_prepared_output_contract():
    r = np.random.RandomState(3)
    pdf = pd.DataFrame(r.randn(200, 3), columns=["a", "b", "c"])
    pdf["label"] = (pdf["a"] > 0).astype(np.int64)
    out = explain_prepared(prepare_block(pdf, ["a", "b", "c"], "label"), iteration=0)
    assert list(out.columns) == ["feature", "mean_abs_shap", "n_val_rows"]
    assert list(out.feature) == ["a", "b", "c", "random_uniform_feature"]
    assert out.mean_abs_shap.dtype == np.float32
    assert (out.n_val_rows == 40).all()
    # informative feature dominates
    assert out.set_index("feature").mean_abs_shap["a"] > out.set_index(
        "feature"
    ).mean_abs_shap["random_uniform_feature"]


def test_prepared_loop_bit_identical_to_one_shot():
    """The batched path (prepare_block once + explain_prepared per
    iteration, probe column overwritten in place) must be BIT-identical to
    a fresh prepare_block per iteration — the pass-elimination refactor may
    not change a single value, in both probe modes."""
    r = np.random.RandomState(21)
    pdf = pd.DataFrame(r.randn(300, 4), columns=["a", "b", "c", "d"])
    pdf["label"] = (pdf["a"] + 0.3 * pdf["b"] > 0).astype(np.int64)
    pdf["__row_key"] = np.arange(300, dtype=np.int64) * 7919
    feats = ["a", "b", "c", "d"]
    for mode, key in [("positional", None), ("keyed", "__row_key")]:
        blk = prepare_block(pdf, feats, "label", row_key_col=key)
        for it in range(4):
            batched = explain_prepared(
                blk, iteration=it, seed_start=5, probe_mode=mode
            )
            oneshot = explain_prepared(
                prepare_block(pdf, feats, "label", row_key_col=key),
                iteration=it,
                seed_start=5,
                probe_mode=mode,
            )
            pd.testing.assert_frame_equal(batched, oneshot)


def test_logistic_multiclass_ovr():
    """3+ classes -> one-vs-rest: coef_ (k, m), 3-D linear SHAP, and the
    argmax prediction recovers a linearly separable 3-class labeling
    (reference analogue: catboost native multiclass, shap_explainer.py:173)."""
    from powershap_spark.kernel import linear_shap_values

    r = np.random.RandomState(5)
    X = r.randn(3000, 3)
    scores = np.column_stack([X[:, 0], X[:, 1], -(X[:, 0] + X[:, 1])])
    y = np.argmax(scores + 0.05 * r.randn(3000, 3), axis=1).astype(np.int64)
    m = LogisticRegressionModel().fit(X, y)
    assert m.coef_.shape == (3, 3)
    assert (m.predict(X) == y).mean() > 0.9
    phi = linear_shap_values(m.coef_, X[:100], X[100:200])
    assert phi.shape == (100, 3, 3)


def test_explain_prepared_multiclass_max_over_outputs():
    """A 3-class label flows through explain_prepared via the
    max-over-outputs reduction; the informative feature still dominates."""
    r = np.random.RandomState(7)
    pdf = pd.DataFrame(r.randn(600, 3), columns=["a", "b", "c"])
    pdf["label"] = np.digitize(pdf["a"], [-0.5, 0.5]).astype(np.int64)
    assert pdf["label"].nunique() == 3
    out = explain_prepared(prepare_block(pdf, ["a", "b", "c"], "label"), iteration=0)
    s = out.set_index("feature").mean_abs_shap
    assert s["a"] > 3 * s["random_uniform_feature"]
    assert s["a"] > 3 * s["b"]


def test_logistic_binary_string_labels():
    """Binary string labels map via class identity, like OvR does — no
    float-cast crash (review finding r3)."""
    r = np.random.RandomState(9)
    X = r.randn(400, 3)
    y = np.where(X[:, 0] > 0, "pos", "neg")
    m = LogisticRegressionModel().fit(X, y)
    assert m.coef_.ndim == 1 and m.coef_[0] > 0  # classes_[1]=='pos'
    assert (m.predict(X) == y).mean() > 0.95


def test_logistic_single_class_is_neutral_not_garbage():
    """A single-class block yields a zero-coefficient (zero-SHAP) model
    with a warning — degenerate partition blocks contribute neutral
    partials instead of silently folding a garbage fit."""
    r = np.random.RandomState(10)
    X = r.randn(50, 4)
    with pytest.warns(UserWarning, match="single-class"):
        m = LogisticRegressionModel().fit(X, np.ones(50))
    assert (m.coef_ == 0).all()
    assert (m.predict(X) == 1.0).all()


def test_five_class_warning_gates_on_integer_dtype():
    """The >=5-labels warning only fires for INTEGER labels (reference
    powershap.py:190-194 gates on integer dtype); 5+ string categories
    classify silently."""
    import warnings as _w

    from powershap_spark.kernel import _VendoredLinearKernel

    r = np.random.RandomState(11)
    X = r.randn(300, 3)
    y = np.array([f"c{i % 5}" for i in range(300)])
    with _w.catch_warnings():
        _w.simplefilter("error")
        _VendoredLinearKernel.fit_get_shap(X, y, X[:50], y[:50], random_seed=0)


def test_gb_stumps_shap_is_exact_additive():
    """The stump ensemble is additive with one feature per stump, so
    interventional SHAP must satisfy local accuracy EXACTLY:
    sum_j phi_j(x) = f(x) - mean(f(X_train))."""
    from powershap_spark.kernel import GradientBoostedStumpsModel

    rng = np.random.RandomState(3)
    X = rng.randn(400, 5)
    y = np.where(np.abs(X[:, 0]) > 1.0, 2.0, -1.0) + 0.1 * rng.randn(400)
    m = GradientBoostedStumpsModel(n_stumps=40).fit(X, y)

    def predict(Z):
        out = np.full(len(Z), m.base_)
        for j, t, lv, rv in m.stumps_[0]:
            out += np.where(Z[:, j] <= t, lv, rv)
        return out

    Xv = rng.randn(50, 5)
    phi = m.shap_values(X, Xv)
    np.testing.assert_allclose(
        phi.sum(axis=1), predict(Xv) - predict(X).mean(), atol=1e-10
    )


def test_gb_stumps_select_nonmonotone_feature_linear_misses():
    """The capability the stumps model adds: y depends on |x0| (symmetric,
    non-monotone) — the vendored logistic's coefficient for x0 is ~0 so
    linear SHAP carries no mass, while stumps split at the thresholds and
    select it."""
    from powershap_spark.engine import PowerShapSelector
    from powershap_spark.kernel import GradientBoostedStumpsModel

    rng = np.random.RandomState(7)
    n = 3000
    X = pd.DataFrame(
        {
            "sym": rng.randn(n),          # informative, NON-monotone
            "noise_a": rng.randn(n),
            "noise_b": rng.randn(n),
        }
    )
    y = ((np.abs(X["sym"]) > 1.0)).astype(np.int64).to_numpy()

    stumps_sel = PowerShapSelector(
        power_iterations=8, model=GradientBoostedStumpsModel(n_stumps=40)
    ).fit(X, y)
    assert "sym" in stumps_sel.selected_features_
    s_imp = stumps_sel._processed_shaps_df.impact.abs()
    # stumps put DOMINANT |SHAP| mass on the symmetric feature (~100x)...
    assert s_imp["sym"] > 20 * max(s_imp["noise_a"], s_imp["noise_b"])

    # ...while the linear model's mass on it is noise-order (coef ~ 0).
    # The selection verdict itself can flicker with finite samples, so the
    # blind spot is asserted on the impact RATIO, not the selected set.
    linear_sel = PowerShapSelector(power_iterations=8).fit(X, y)
    l_imp = linear_sel._processed_shaps_df.impact.abs()
    assert l_imp["sym"] < 5 * max(l_imp["noise_a"], l_imp["noise_b"])


def test_buffer_pool_thread_local_and_shape_slots():
    """The work-buffer pool is thread-local (concurrent driver-thread fits
    must never share buffers), keeps one slot per (shape, dtype) up to a
    small LRU cap (alternating CV-fold shapes reuse instead of thrash),
    and clear_buffer_pool() releases the calling thread's pins."""
    import threading

    from powershap_spark.kernel import (
        _POOL_SLOTS_PER_ROLE,
        _BUF_TLS,
        _pooled,
        clear_buffer_pool,
    )

    clear_buffer_pool()
    a = _pooled("t_role", (8, 3), np.float32)
    # same shape+dtype -> same buffer object (the reuse claim)
    assert _pooled("t_role", (8, 3), np.float32) is a
    # a second shape occupies its own slot and does NOT evict the first
    b = _pooled("t_role", (6, 3), np.float32)
    assert b is not a
    assert _pooled("t_role", (8, 3), np.float32) is a  # still resident
    # alternating CV-fold shapes: both stay resident (no thrash)
    assert _pooled("t_role", (6, 3), np.float32) is b
    # dtype is part of the slot key
    assert _pooled("t_role", (8, 3), np.float64) is not a

    # LRU cap: flood with fresh shapes, the least-recently-used falls out
    for i in range(_POOL_SLOTS_PER_ROLE + 1):
        _pooled("t_role", (20 + i, 2), np.float32)
    pool = _BUF_TLS.pool["t_role"]
    assert len(pool) == _POOL_SLOTS_PER_ROLE

    # thread isolation: another thread gets a DIFFERENT buffer object
    other = {}

    def grab():
        other["buf"] = _pooled("t_role", (8, 3), np.float32)
        other["buf"][:] = 7.0

    th = threading.Thread(target=grab)
    th.start()
    th.join()
    assert other["buf"] is not _pooled("t_role", (8, 3), np.float32)

    clear_buffer_pool()
    assert _BUF_TLS.pool == {}
