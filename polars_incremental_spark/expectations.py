"""Declarative data-quality expectations for pipeline batches (DLT-style).

An expectation is a named SQL boolean constraint with an enforcement
action, evaluated on every batch between transform and write:

- ``warn``        — violating rows PASS THROUGH; counts are recorded.
- ``drop``        — violating rows are filtered out of the written batch.
- ``quarantine``  — like drop, but the violating rows are also handed to a
                    ``quarantine_writer`` (dead-letter sink).
- ``fail``        — any violating row aborts the batch BEFORE the
                    checkpoint commit, so the batch replays after the data
                    (or the rule) is fixed — the WAL already provides
                    exactly-once retry semantics, failing early is safe.

NULL constraint results count as PASS, same as SQL ``CHECK`` and the Delta
writer's constraint enforcement (deltalog._enforce_constraints) — an
expectation on a sometimes-NULL column rejects only definite violations.

Scale design: pass/violation COUNTS are collected with
``DataFrame.observe`` (Spark's Observation API), which aggregates during
the writer's own action — zero extra scans for ``warn``/``drop``/``fail``
metrics.  Only ``quarantine`` pays a second pass, to materialize the
violating rows for the dead-letter writer; DLT makes the same trade.

Greenfield Spark work: the reference engine
(HamiltonCulik/polars-incremental) has no expectations surface; semantics
follow Databricks Delta Live Tables' expect / expect_or_drop /
expect_or_fail contract.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .errors import WriterError
from .observability import observed_metrics

# once-per-process flag: the degraded Observation path re-scans every batch
# and should announce itself exactly once, not spam per batch
_WARNED_OBS_FALLBACK = False

_ACTIONS = ("warn", "drop", "fail", "quarantine")


class ExpectationViolationError(WriterError):
    """A ``fail``-action expectation had violating rows; the batch was NOT
    committed and will replay."""

    def __init__(self, failures: dict[str, int]) -> None:
        self.failures = failures
        detail = ", ".join(f"{k}: {v} rows" for k, v in failures.items())
        super().__init__(f"expectation(s) failed: {detail}")


@dataclass(frozen=True)
class Expectation:
    name: str
    constraint: str  # SQL boolean expression over the batch's columns
    action: str = "warn"

    def __post_init__(self) -> None:
        if self.action not in _ACTIONS:
            raise ValueError(
                f"action must be one of {_ACTIONS}; got {self.action!r}"
            )
        if not self.name or not self.constraint:
            raise ValueError("expectation needs a name and a constraint")


def expect(name: str, constraint: str) -> Expectation:
    return Expectation(name, constraint, "warn")


def expect_or_drop(name: str, constraint: str) -> Expectation:
    return Expectation(name, constraint, "drop")


def expect_or_fail(name: str, constraint: str) -> Expectation:
    return Expectation(name, constraint, "fail")


def expect_or_quarantine(name: str, constraint: str) -> Expectation:
    return Expectation(name, constraint, "quarantine")


def _violation_aggs(exps):
    # the ONE definition of "violation count" — used by the observe
    # metrics, the no-action fallback, and the eager pre-write gate, so
    # the three paths can never diverge
    return [
        F.sum((~_ok(e)).cast("long")).alias(f"__viol_{e.name}") for e in exps
    ]


def _ok(e: Expectation):
    # NULL-safe pass flag: NULL constraint result counts as PASS
    return F.coalesce(F.expr(e.constraint), F.lit(True))


class BatchExpectations:
    """Per-batch application state: the gated frame plus deferred metrics.

    ``apply`` returns the frame the writer should see; ``metrics()`` /
    ``enforce()`` are valid AFTER the writer's action has run (the
    Observation resolves with the first action on the observed plan).
    """

    def __init__(self, expectations: list[Expectation]) -> None:
        names = [e.name for e in expectations]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate expectation names: {names}")
        self.expectations = list(expectations)
        self._observation = None
        self._observed_df: DataFrame | None = None
        self._quarantined: DataFrame | None = None

    # ------------------------------------------------------------- apply
    def apply(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Observation

        exps = self.expectations
        if not exps:
            return df
        gate = [e for e in exps if e.action in ("drop", "quarantine")]
        quarantine = [e for e in exps if e.action == "quarantine"]
        if quarantine:
            viol = None
            for e in quarantine:
                c = ~_ok(e)
                viol = c if viol is None else (viol | c)
            self._quarantined = df.filter(viol)
        metrics = [F.count(F.lit(1)).alias("__rows"), *_violation_aggs(exps)]
        self._observation = Observation()
        observed = df.observe(self._observation, *metrics)
        # retained for the no-action fallback in metrics(); holds the PRE-gate
        # frame so fallback counts match what the observation would report
        self._observed_df = df
        if gate:
            keep = None
            for e in gate:
                c = _ok(e)
                keep = c if keep is None else (keep & c)
            observed = observed.filter(keep)
        return observed

    # ----------------------------------------------------------- results
    def _resolve(self) -> dict[str, Any]:
        """Observation metrics, without ever blocking the pipeline
        (``observability.observed_metrics``).  When the observation did not
        resolve we pay ONE direct aggregation over the retained pre-gate
        frame instead (same values, one extra scan)."""

        def direct() -> dict[str, Any]:
            global _WARNED_OBS_FALLBACK
            if not _WARNED_OBS_FALLBACK:
                # the degraded path re-scans the batch EVERY time, which
                # should be observable, not invisible
                _WARNED_OBS_FALLBACK = True
                import logging

                logging.getLogger(__name__).warning(
                    "Observation metrics unavailable; expectation metrics "
                    "fall back to a direct re-aggregation — one extra scan "
                    "per batch"
                )
            return self._observed_df.agg(
                F.count(F.lit(1)).alias("__rows"),
                *_violation_aggs(self.expectations),
            ).collect()[0].asDict()

        return observed_metrics(self._observation, direct)

    def metrics(self) -> dict[str, Any]:
        """{rows_observed, per-expectation {violations, action}} — call
        after the writer's action."""
        if self._observation is None:
            return {"rows_observed": 0, "expectations": {}}
        got = self._resolve()
        out: dict[str, Any] = {
            "rows_observed": got["__rows"],
            "expectations": {},
        }
        for e in self.expectations:
            out["expectations"][e.name] = {
                "violations": int(got[f"__viol_{e.name}"] or 0),
                "action": e.action,
            }
        return out

    def precheck_fail_rules(self) -> dict[str, Any]:
        """Violation counts for the ``fail``-action rules only, via one
        direct aggregation over the pre-gate frame — the eager pre-write
        gate for non-idempotent writers (``Pipeline.eager_fail_expectations``).
        Returns a metrics dict in ``enforce``'s shape."""
        fail_exps = [e for e in self.expectations if e.action == "fail"]
        out: dict[str, Any] = {"rows_observed": None, "expectations": {}}
        if not fail_exps or self._observed_df is None:
            return out
        row = self._observed_df.agg(*_violation_aggs(fail_exps)).collect()[0]
        for e in fail_exps:
            out["expectations"][e.name] = {
                "violations": int(row[f"__viol_{e.name}"] or 0),
                "action": e.action,
            }
        return out

    def enforce(self, metrics: dict[str, Any] | None = None) -> dict[str, Any]:
        """Raise ExpectationViolationError if any ``fail`` rule violated;
        returns the metrics either way."""
        m = metrics if metrics is not None else self.metrics()
        failures = {
            e.name: m["expectations"][e.name]["violations"]
            for e in self.expectations
            if e.action == "fail"
            and m["expectations"].get(e.name, {}).get("violations")
        }
        if failures:
            raise ExpectationViolationError(failures)
        return m

    @property
    def quarantined(self) -> DataFrame | None:
        return self._quarantined
