"""Shared installer of inert stand-ins for the reference repo's heavy
deps (cvxpy/sklearn/scipy/statsmodels/rpy2), so its pure-numpy modules
import in this container for parity testing. A test that needs the
reference skips when its checkout is absent."""

from __future__ import annotations

import importlib.machinery
import importlib.util
import sys
import types

import pytest


def _install_fakes() -> None:
    def fake_module(name, **attrs):
        m = types.ModuleType(name)
        # a real ModuleSpec so importlib.util.find_spec(name) works on
        # the faked module (pyspark probes scipy availability that way)
        m.__spec__ = importlib.machinery.ModuleSpec(name, loader=None)
        for k, v in attrs.items():
            setattr(m, k, v)
        sys.modules.setdefault(name, m)
        return m

    class _BaseEstimator:
        pass

    class _RegressorMixin:
        pass

    fake_module("cvxpy", Variable=object, Minimize=object, Problem=object,
                sum_squares=object, norm=object)
    fake_module("cvxpy.error", SolverError=Exception)
    fake_module("sklearn")
    fake_module(
        "sklearn.base",
        BaseEstimator=_BaseEstimator,
        RegressorMixin=_RegressorMixin,
        clone=lambda x: x,
    )
    fake_module("sklearn.decomposition", PCA=object)
    fake_module("scipy")
    fake_module("scipy.optimize", minimize=None)
    fake_module("statsmodels")
    fake_module("statsmodels.regression")
    fake_module("statsmodels.regression.quantile_regression", QuantReg=object)
    fake_module(
        "statsmodels.regression.linear_model", RegressionResultsWrapper=object
    )
    fake_module("statsmodels.api", OLS=object)
    fake_module("statsmodels.tsa")
    fake_module("statsmodels.tsa.stattools", adfuller=object)
    fake_module("sklearn.utils")
    fake_module(
        "sklearn.utils.validation", check_is_fitted=lambda *a, **k: None
    )
    fake_module("rpy2")
    fake_module(
        "rpy2.robjects",
        r=None,
        pandas2ri=types.SimpleNamespace(activate=lambda: None),
        numpy2ri=types.SimpleNamespace(activate=lambda: None),
    )
    fake_module(
        "rpy2.robjects.packages", importr=lambda name: types.SimpleNamespace()
    )
    fake_module("rpy2.robjects.vectors", IntVector=object, FloatVector=object)


def install_reference_stubs() -> None:
    """Make the reference's ``fforma`` package importable with inert
    stand-ins for its heavy deps, or skip the calling test (before any
    stand-in is installed) when the reference checkout is absent."""
    if "/root/reference" not in sys.path:
        sys.path.insert(0, "/root/reference")
    if importlib.util.find_spec("fforma") is None:
        pytest.skip("reference implementation (package 'fforma') not found")
    _install_fakes()
