"""Cohort selection: typed attribute filters + cohort joins (SURVEY §2.2/2.3).

The reference's "query language" is a filter-spec dict built from dashboard
widgets (viz.py:402-410) applied per-type with null-tolerance
(``filter_users``, viz.py:413-430). Here the spec is a dataclass compiled to
a single SQL predicate — Catalyst then pushes it into the user-table scan.

Cohort application to fact tables is a semi join on ``user_id``
(viz.py:761-764 does it as ``isin`` client-side); we broadcast the cohort —
at 100 TB the fact side never shuffles for cohort restriction.

The builders write their expressions as parsed SQL (``filter(str)``,
``selectExpr``) with every column name backtick-quoted and every literal
rendered by :mod:`..functions.sql`: one JVM parse per expression instead of
several py4j round trips per Column-API node, which is most of a dashboard
request's driver-side cost. The Catalyst expressions, literal types and
results are the ones the Column API builds.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.sql import ident, literal

__all__ = [
    "FilterSpec",
    "NLQuerySpec",
    "spec_from_nl_payload",
    "compile_filter",
    "compile_filters",
    "filter_users",
    "cohort_semi_join",
    "cohort_anti_join",
    "cohort_compare",
]


@dataclass
class FilterSpec:
    """One attribute filter (viz.py:402-410 builds the same triple).

    type semantics (viz.py:413-430):
      int/float/datetime -> value=(lo, hi) closed range
      string             -> value=list of allowed values; EMPTY list = all
                            (empty multiselect means no restriction,
                            viz.py:388-390)
      boolean            -> value=bool equality
    ``ignore_nulls=True`` (the reference default, viz.py:417) means rows with
    NULL in the attribute PASS the filter.
    """

    name: str
    type: str  # int | float | string | datetime | boolean
    value: Any = None
    ignore_nulls: bool = field(default=True)


@dataclass
class NLQuerySpec:
    """A full cohort-vs-control query parsed from the NL payload (U4).

    ``subject_filters``/``control_filters`` compile via
    :func:`compile_filters`; ``start_date``/``end_date`` bound the fact-table
    scans (S2's pushed-down range predicate)."""

    subject_filters: list[FilterSpec]
    control_filters: list[FilterSpec]
    start_date: Any = None
    end_date: Any = None


# payload key -> (user-table column, FilterSpec type). The key set is fixed
# by the reference's LLM prompt (script/utils.py:112-133): the model is
# instructed to return ONLY these keys.
_NL_ATTR_MAP: list[tuple[str, str, str]] = [
    ("selected_users", "user_id", "string"),
    ("selected_state_of_residence", "state_of_residence", "string"),
    ("selected_age_range", "age", "int"),
    ("selected_weight_range", "weight", "float"),
    ("selected_height_range", "height", "float"),
]


def spec_from_nl_payload(payload: dict[str, Any]) -> NLQuerySpec:
    """U4 plug point: the reference's NL→query flow prompts an LLM to fill a
    JSON object (script/utils.py:105-176 ``parse_query``) whose keys are
    ``selected_users``, ``selected_state_of_residence``,
    ``selected_{age,weight,height}_range`` (plus ``_control`` twins) and
    ``start_date``/``end_date``. This adapter maps that payload — produced
    by ANY external parser; the LLM call itself stays outside the engine by
    design (SURVEY §7) — onto compilable :class:`FilterSpec` lists.

    Faithful to the widget semantics the payload feeds in the reference
    (viz.py:619-639): an empty/None user or state list means "no
    restriction" (viz.py:388-390), ranges are closed ``[lo, hi]``, and
    filters stay null-tolerant (viz.py:417).
    """

    def _group(suffix: str) -> list[FilterSpec]:
        specs: list[FilterSpec] = []
        for key, col, typ in _NL_ATTR_MAP:
            v = payload.get(key + suffix)
            if v is None:
                continue
            if typ == "string":
                vals = [str(x) for x in (v if isinstance(v, (list, tuple)) else [v])]
                specs.append(FilterSpec(col, "string", vals))
            else:
                lo, hi = v
                if lo is None or hi is None:
                    continue
                specs.append(FilterSpec(col, typ, (lo, hi)))
        return specs

    return NLQuerySpec(
        subject_filters=_group(""),
        control_filters=_group("_control"),
        start_date=payload.get("start_date"),
        end_date=payload.get("end_date"),
    )


def _filter_sql(spec: FilterSpec) -> str:
    c = ident(spec.name)
    if spec.type in ("int", "float", "datetime"):
        lo, hi = spec.value
        # Column.between's own form: (c >= lo) AND (c <= hi)
        pred = f"{c} >= {literal(lo)} AND {c} <= {literal(hi)}"
    elif spec.type == "string":
        vals = list(spec.value or [])
        if not vals:  # empty selection = no restriction (viz.py:388-390)
            return "true"
        pred = f"{c} IN ({', '.join(literal(v) for v in vals)})"
    elif spec.type == "boolean":
        pred = f"{c} = {literal(bool(spec.value))}"
    else:
        raise ValueError(f"unknown filter type {spec.type!r}")
    if spec.ignore_nulls:
        pred = f"({pred}) OR {c} IS NULL"
    return pred


def _filters_sql(specs: list[FilterSpec]) -> str:
    return " AND ".join(["true", *(f"({_filter_sql(s)})" for s in specs)])


def compile_filter(spec: FilterSpec) -> Column:
    return F.expr(_filter_sql(spec))


def compile_filters(specs: list[FilterSpec]) -> Column:
    return F.expr(_filters_sql(specs))


def filter_users(users: DataFrame, specs: list[FilterSpec]) -> DataFrame:
    """viz.py:413-430 re-expressed: one declarative predicate, pushed down."""
    return users.filter(_filters_sql(specs))


def cohort_semi_join(facts: DataFrame, cohort: DataFrame, key: str = "user_id") -> DataFrame:
    """J1: restrict a fact table to a cohort (viz.py:761-764's isin).

    ``left_semi`` + broadcast: the big fact side streams map-side; no shuffle
    of the facts at any scale as long as the cohort fits in a broadcast.

    The cohort's key column is broadcast as given, without ``distinct``: a
    semi join's result does not depend on duplicate keys, and deduplicating
    would cost a shuffle stage and a job on every request. A cohort with
    many duplicate keys (say, one drawn from a fact table) should be
    deduplicated by the caller to keep the broadcast small.
    """
    return facts.join(cohort.select(key).hint("broadcast"), key, "left_semi")


def cohort_anti_join(left: DataFrame, existing: DataFrame, key: str = "user_id") -> DataFrame:
    """J2: new-user detection (w4h_db_utils.py:160-173's set difference).

    Unlike :func:`cohort_semi_join`, ``existing`` is deduplicated before
    the broadcast: callers pass fact-sized tables here (``anti_join_new_users``
    passes ``orders``), whose key column repeats every key many times over.
    """
    return left.join(F.broadcast(existing.select(key).distinct()), key, "left_anti")


def cohort_compare(
    subject_agg: DataFrame, control_agg: DataFrame, metrics: list[str]
) -> DataFrame:
    """J6/A12: KPI deltas subject-vs-control (viz.py:850-921).

    Both inputs are 1-row aggregate frames; a 1x1 cross join is trivially
    broadcast. Output columns: ``<m>_subject, <m>_control, <m>_delta``.
    """
    s = subject_agg.selectExpr(
        *(f"{ident(m)} AS {ident(m + '_subject')}" for m in metrics)
    )
    c = control_agg.selectExpr(
        *(f"{ident(m)} AS {ident(m + '_control')}" for m in metrics)
    )
    deltas = (
        f"{ident(m + '_subject')} - {ident(m + '_control')} AS {ident(m + '_delta')}"
        for m in metrics
    )
    return s.crossJoin(c.hint("broadcast")).selectExpr("*", *deltas)
