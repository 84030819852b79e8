"""Serving layer: the named-query service with typed parameters,
privacy-budget and audit enforcement.

Reference analog: the FastAPI/Streamlit endpoints (api.py, dashboard.py),
the parameterized query builder (query_builder.py:60-179 — user-supplied
``{limit}`` / ``{patient_id}`` / ``{cost_threshold}`` spliced into SQL via
str.format), and the privacy engine's session epsilon accounting
(privacy_engine.py:291-318). SURVEY.md §4 concluded these belong in the
query registry, not the planner — this module is that registry wrapper:

- **typed parameters, never string SQL**: each parameterized query
  declares a PARAM_SPECS row (name → type + bounds). Values are validated
  and coerced in Python, then bound into the DataFrame plan as typed
  literals/kwargs — there is no string-formatted SQL anywhere, so the
  reference's injection surface (query_builder.py:170 ``query.format``)
  does not exist here by construction;
- every query execution appends a READ event to the audit log (S7),
  naming the user the service acts for (``as_user``);
- queries that spend differential-privacy budget charge epsilon at the
  EXECUTION boundary: the noisy result is materialized under the charge
  (so re-reading the returned frame re-reads the same released noise, it
  never re-samples under one charge), and the charge rolls back if the
  query fails before releasing data;
- results can be capped (the API layer's parameterized LIMIT, O3).
"""

from __future__ import annotations

import dataclasses
import datetime
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from ..config import DP_EPSILON, PRIVACY_BUDGET_MAX_EPSILON
from ..operators.privacy import PrivacyBudget
from ..sources.audit import log_audit
from . import catalog

# Queries whose execution spends differential-privacy budget (they add
# Laplace noise derived from the session epsilon).
DP_QUERIES: dict[str, float] = {
    "fn_laplace_noise": DP_EPSILON,
    "privacy_noise_impact": DP_EPSILON,
}


class BudgetExhaustedError(Exception):
    pass


class ParameterError(ValueError):
    pass


@dataclass(frozen=True)
class ParamSpec:
    """A typed, bounded query parameter (the safe analog of the
    reference's str.format placeholders, query_builder.py:68,100,133)."""

    coerce: Callable[[Any], Any]
    lo: Any = None
    hi: Any = None

    def bind(self, qname: str, pname: str, raw: Any) -> Any:
        try:
            val = self.coerce(raw)
        except (TypeError, ValueError) as e:
            raise ParameterError(
                f"{qname}.{pname}: cannot coerce {raw!r} ({e})"
            ) from None
        if self.lo is not None and val < self.lo:
            raise ParameterError(f"{qname}.{pname}: {val!r} below minimum {self.lo!r}")
        if self.hi is not None and val > self.hi:
            raise ParameterError(f"{qname}.{pname}: {val!r} above maximum {self.hi!r}")
        return val


def _strict_int(v: Any) -> int:
    # int("42; DROP TABLE") raises; int(42.9) would silently truncate, and
    # bool is an int subclass — reject both.
    if isinstance(v, bool) or isinstance(v, float):
        raise ValueError("expected an integer")
    return int(v)


def _strict_float(v: Any) -> float:
    if isinstance(v, bool):
        raise ValueError("expected a number")
    return float(v)


def _iso_date(v: Any) -> str:
    # Round-trips through datetime.date so anything that isn't a pure
    # YYYY-MM-DD literal (e.g. "2020-01-01' OR '1'='1") is rejected.
    return datetime.date.fromisoformat(str(v)).isoformat()


# Parameterized catalog queries: name → {param: spec}. Queries absent from
# this table accept no parameters (beyond the universal ``limit``).
PARAM_SPECS: dict[str, dict[str, ParamSpec]] = {
    "patient_history": {"patient_key": ParamSpec(_strict_int, lo=0)},
    "point_lookup": {"patient_key": ParamSpec(_strict_int, lo=0)},
    "topk_highcost": {
        "cost_threshold": ParamSpec(_strict_float, lo=0.0),
        "k": ParamSpec(_strict_int, lo=1, hi=10_000),
    },
    "topk_diagnoses": {"k": ParamSpec(_strict_int, lo=1, hi=10_000)},
    "filter_date_range": {
        "date_from": ParamSpec(_iso_date),
        "date_to": ParamSpec(_iso_date),
    },
    "anomaly_listing": {"k": ParamSpec(_strict_int, lo=1, hi=10_000)},
}


def _bind(name: str, params: dict[str, Any]) -> dict[str, Any]:
    """Validate ``params`` against the query's specs; return the typed values."""
    specs = PARAM_SPECS.get(name, {})
    unknown = set(params) - set(specs)
    if unknown:
        raise ParameterError(
            f"{name} does not take parameter(s) {sorted(unknown)}; "
            f"allowed: {sorted(specs) or 'none'}"
        )
    return {p: specs[p].bind(name, p, v) for p, v in params.items()}


@dataclass
class QueryService:
    """Audited, budget-enforced, parameterized access to the query catalog."""

    spark: SparkSession
    sf_dir: str
    user: str = "api_user"
    budget: PrivacyBudget = field(
        default_factory=lambda: PrivacyBudget(max_epsilon=PRIVACY_BUDGET_MAX_EPSILON)
    )

    def available_queries(self) -> list[str]:
        return sorted(catalog.queries())

    def params_for(self, name: str) -> list[str]:
        return sorted(PARAM_SPECS.get(name, {}))

    def as_user(self, user: str) -> QueryService:
        """This service acting for ``user``: its READ events name them,
        and it spends the same privacy budget."""
        return dataclasses.replace(self, user=user)

    def run(self, name: str, limit: int | None = None, **params: Any) -> DataFrame:
        qs = catalog.queries()
        if name not in qs:
            raise KeyError(f"unknown query {name!r}; see available_queries()")
        bound = _bind(name, params)

        # Build the plan BEFORE charging: a malformed query must not spend
        # budget (ADVICE r01: charge at the execution boundary).
        df = qs[name](self.spark, self.sf_dir, **bound)
        if limit is not None:
            df = df.limit(ParamSpec(_strict_int, lo=0).bind(name, "limit", limit))

        epsilon = DP_QUERIES.get(name)
        if epsilon is not None:
            if not self.budget.charge(name, epsilon):
                raise BudgetExhaustedError(
                    f"epsilon budget exhausted (spent {self.budget.spent:.2f} of "
                    f"{self.budget.max_epsilon}); refusing DP query {name!r}"
                )
            # Materialize the noisy release under the charge: one sample of
            # noise per charge, re-reads of the returned frame see the SAME
            # released values (never a fresh draw), and a failed execution
            # refunds the budget because nothing was released.
            try:
                df = df.localCheckpoint(eager=True)
            except Exception:
                self.budget.refund(name, epsilon)
                raise
        self._log_read(name, bound, epsilon=epsilon)
        return df

    def log_cached_read(self, name: str, params: dict[str, Any]) -> None:
        """Log the READ event of a result the caller serves from its own
        cache, as ``run`` logs one for a result it computes."""
        self._log_read(name, _bind(name, params), cache_hit=True)

    def _log_read(self, name: str, bound: dict[str, Any],
                  epsilon: float | None = None, cache_hit: bool = False) -> None:
        log_audit(
            self.spark, "READ", name, user_name=self.user,
            details=f"sf_dir={self.sf_dir}"
            + (f" epsilon={epsilon}" if epsilon else "")
            + (f" params={sorted(bound.items())}" if bound else "")
            + (" cache=hit" if cache_hit else ""),
        )
