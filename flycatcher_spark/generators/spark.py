"""Spark bulk-validation generator — the engine's hot path.

Capability parity with the reference's bulk validator
(``/root/reference/src/flycatcher/generators/polars.py:93-254``):
the same public surface (``validate(df, strict, show_violations,
fill_nulls)``, ``.schema``, ``describe_constraints()``) and the same
pipeline stages V1-V8 (SURVEY.md §2.1), re-architected for Spark's
lazy, distributed execution model.

**One check list, one scan (SURVEY.md §4.2).** Each call coerces its
frame (V1-V3) and lists its checks: the null check of each
non-nullable field that ``fill_nulls`` does not fill, then each
constraint that resolves against the frame (V7). A check is an id, a
message and the ``passes`` Column (null where a predicate is null),
and every output is a fold over the list: ``validate`` counts each
check's violations, ``validate_lazy`` keeps the rows that violate
none, ``flag_violations`` collects the messages of the violated ones,
and ``streaming.windowed_quality`` sums them per window. The reference
evaluates each constraint in its own pass — N+ full scans for N
constraints. Here every count comes from ONE conditional-aggregation
job::

    df.agg(sum(when(col.isNull(), 1)), ..., sum(when(ok & ~passes, 1)), ...)

which Catalyst executes as a single whole-stage-codegen scan with
map-side partial aggregation — one scan regardless of constraint
count, at any scale. Constraints compile to ``Column``s once per
validator and are analysed in one batched ``select`` per input
schema. Sample rows (``filter(~passes).limit(k)``) are fetched only for
constraints that actually violated: in strict mode one sample before
raising; with ``show_violations`` all samples at once, as concurrent
jobs that run while the caller goes on (``last_violations`` waits for
them). The returned DataFrame is a pure lazy
transformation (cast/select + filters) that fuses into downstream
plans: filters combine, casts fold into the parquet scan's projection,
and predicate pushdown applies when constraints reference scan
columns.

**Documented divergence:** violation counts are computed
independently in one pass (better diagnostics), whereas the reference
computes them on a sequentially-filtered frame so later counts exclude
rows already removed (reference polars.py:229). Kept rows are
identical except in one pathological corner: a constraint whose every
violating row is also rejected by an earlier constraint is still
applied here (dropping its null-valued rows) but skipped by the
reference. The same null rule sets ``validate_lazy`` apart from
``validate(strict=False)``: a row whose predicate is null for a
*violated* constraint is dropped by ``validate`` (the constraint is
applied as a filter) but kept by ``validate_lazy`` (true-or-null), and
it is counted in neither.
"""

from __future__ import annotations

import logging
import operator
from collections.abc import Sequence
from concurrent.futures import Future, ThreadPoolExecutor
from functools import cache, reduce
from typing import TYPE_CHECKING, Any, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from ..fields import _MISSING

if TYPE_CHECKING:  # pragma: no cover
    from ..base import Schema

logger = logging.getLogger(__name__)

class _Check(NamedTuple):
    """One row check: ``passes`` is false on a violating row. ``id`` is
    the constraint's id, or the field name of a null check."""

    id: str
    message: str
    passes: Column


@cache
def _sample_pool() -> ThreadPoolExecutor:
    """Driver threads for ``show_violations`` sample fetches; each
    blocks on one small Spark job, so they overlap on the cluster."""
    return ThreadPoolExecutor(thread_name_prefix="flycatcher-samples")


def _warn_skipped(cid: str, message: str, err: Exception) -> None:
    """Log a constraint that cannot compile or resolve, by message and
    by id (bare validators share one message; the ids differ)."""
    logger.warning(
        "Could not evaluate constraint '%s' (id %s): %s", message, cid, err
    )


class SparkValidator:
    """Validates Spark DataFrames against a flycatcher_spark schema.

    Examples
    --------
        >>> from flycatcher_spark import Field, Schema
        >>> class UserSchema(Schema):
        ...     id: int = Field(primary_key=True)
        ...     name: str = Field(min_length=1)
        >>> validator = UserSchema.to_spark_validator()
        >>> validator.describe_constraints()
        ['name must have at least 1 characters']
    """

    def __init__(self, schema_cls: "type[Schema]") -> None:
        self.schema_cls = schema_cls
        self.fields = schema_cls.fields()
        self._struct_type = schema_cls.to_spark_schema()
        # the schema's records; their nodes compile on first validate
        self._constraints = schema_cls._constraints()
        for c in self._constraints:
            if c.node is None:
                raise ValueError(c.message)
        # Columns hold JVM handles, so they live here, not on the schema
        self._compiled: list[_Check] | None = None
        self._usable: dict[T.StructType, list[_Check]] = {}
        self._violations: list[dict[str, Any]] = []
        self._sample_fetches: list[Future] = []

    # ------------------------------------------------------------------
    # public pipeline
    # ------------------------------------------------------------------
    def validate(
        self,
        df: DataFrame,
        strict: bool = True,
        show_violations: bool = False,
        fill_nulls: bool = False,
    ) -> DataFrame:
        """Validate and coerce a DataFrame to match the schema.

        Parameters
        ----------
        df : DataFrame
            Input Spark DataFrame.
        strict : bool, default True
            If True, raise on validation errors. If False, filter
            invalid rows.
        show_violations : bool, default False
            If True, log each violation (message, count, sample rows).
        fill_nulls : bool, default False
            If True, replace null values with field defaults (where a
            default exists). Defaults otherwise apply only to columns
            missing from the input entirely.

        Returns
        -------
        DataFrame
            Lazy validated DataFrame with schema-ordered, correctly
            typed columns (extra input columns dropped).

        Raises
        ------
        ValueError
            If validation fails and strict=True.

        Examples
        --------
            >>> from flycatcher_spark import Field, Schema
            >>> class Users(Schema):
            ...     id: int = Field(ge=1)
            ...     name: str = Field(min_length=1)
            >>> df = spark.createDataFrame(
            ...     [(1, "Alice"), (-5, "Bob"), (3, "")], ["id", "name"])
            >>> v = Users.to_spark_validator()
            >>> good = v.validate(df, strict=False)  # filter, don't raise
            >>> sorted(r.id for r in good.collect())
            [1]
            >>> sorted((x["constraint"], x["count"]) for x in v.last_violations)
            [('id must be >= 1', 1), ('name must have at least 1 characters', 1)]
        """
        df, checks = self._checks(df, fill_nulls)
        nulls = [k for k in checks if k.id in self.fields]
        constraints = checks[len(nulls) :]
        ok = reduce(operator.and_, [k.passes for k in nulls]) if nulls else None

        # --- single-pass conditional aggregation (one scan); a constraint
        # is counted only on rows that pass every null check
        violated = [~k.passes for k in nulls] + [
            ~k.passes if ok is None else ok & ~k.passes for k in constraints
        ]
        counts: dict[str, int] = {}
        if checks:
            aggs = [F.sum(F.when(v, 1).otherwise(0)) for v in violated]
            counts = self._run_count_job(
                df, {k.id: agg for k, agg in zip(checks, aggs)}
            )

        # --- V4: null handling ---------------------------------------
        for k in nulls:
            null_count = counts.get(k.id, 0) or 0
            if strict and null_count:
                raise ValueError(
                    f"Column '{k.id}' has {null_count} null values "
                    f"but is not nullable"
                )
        if ok is not None:
            # Non-strict (and clean strict) path: drop rows with nulls in
            # non-nullable columns. One fused filter for all columns.
            df = df.filter(ok)

        # --- V5/V6: constraints --------------------------------------
        self._violations, self._sample_fetches = [], []
        applied: list[_Check] = []
        for k in constraints:
            violation_count = counts.get(k.id, 0) or 0
            if violation_count == 0:
                continue
            if strict:
                sample_str = self._render_sample(df.filter(~k.passes).limit(5))
                raise ValueError(
                    f"Constraint violation: {k.message}\n"
                    f"Found {violation_count} violations.\n"
                    f"Sample violations:\n{sample_str}"
                )
            self._violations.append(
                {
                    "id": k.id,
                    "constraint": k.message,
                    "count": violation_count,
                    "rows": None,
                }
            )
            applied.append(k)

        if show_violations and applied:
            self._sample_fetches = self._fetch_samples(df, applied)
        if applied:
            df = df.filter(reduce(operator.and_, [k.passes for k in applied]))
        return df

    @property
    def last_violations(self) -> list[dict[str, Any]]:
        """Diagnostics from the most recent non-strict ``validate()``:
        ``[{"id": id, "constraint": msg, "count": n, "rows": [Row] | None}]``.

        ``id`` names the constraint within the schema and stays the
        same across runs: ``<field>.<option>`` for a field option,
        ``<field>.required_keys[<key>]`` for each required map key, and
        ``<function name>#<position>`` for a model validator.

        Counts are exact and ready when ``validate`` returns. With
        ``show_violations=True`` the sample ``rows`` are fetched by
        concurrent jobs after it returns; reading this property waits
        for them, and raises the error of a fetch that failed.
        """
        for fetch in self._sample_fetches:
            fetch.result()
        return self._violations

    def validate_lazy(self, df: DataFrame, fill_nulls: bool = False) -> DataFrame:
        """Zero-job validation: pure transformation, no driver actions.

        The 100 TB fast path. Runs no counting jobs: rows are kept
        when every non-nullable column is present and every constraint
        is true-or-null. That is the row set of ``validate(strict=False)``
        except where a constraint is violated somewhere and null on
        some row: ``validate`` applies that constraint as a filter and
        drops the null row, this keeps it. Because the result is a
        single lazy ``filter``, Catalyst fuses it with downstream
        operators and pushes eligible predicates into the scan.
        Violation diagnostics are not collected — use ``validate()``
        or ``flag_violations()`` when counts are needed.
        """
        df, checks = self._checks(df, fill_nulls)
        if checks:
            # a null predicate is no violation: keep true-or-null
            keep = [k.passes.isNull() | k.passes for k in checks]
            df = df.filter(reduce(operator.and_, keep))
        return df

    def flag_violations(self, df: DataFrame, fill_nulls: bool = False) -> DataFrame:
        """Annotate instead of filter: adds an ``_violations`` column.

        Each row gets an ``array<string>`` of failed-constraint
        messages (empty array = valid row). No rows are dropped and no
        jobs run — suited to CDC-style routing at scale::

            flagged = validator.flag_violations(df)
            good = flagged.filter(F.size("_violations") == 0)
            quarantine = flagged.filter(F.size("_violations") > 0)

        The array holds messages, not ids: constraints that share a
        message cannot be told apart there (two bare validators both
        read "Validation failed"). The ``id`` of each
        ``last_violations`` entry names each one.
        """
        df, checks = self._checks(df, fill_nulls)
        if not checks:
            return df.withColumn("_violations", F.array().cast("array<string>"))
        flags = F.array(*[F.when(~k.passes, F.lit(k.message)) for k in checks])
        return df.withColumn("_violations", F.filter(flags, lambda x: x.isNotNull()))

    def check_unique(self, df: DataFrame) -> dict[str, int]:
        """Opt-in uniqueness scan for ``unique``/``primary_key`` fields.

        The reference treats unique/primary_key as DDL-only metadata
        and never scans for duplicates (SURVEY.md §1.3); this is the
        documented opt-in extension. One aggregation job computes
        ``count - countDistinct`` per flagged column.
        """
        cols = [
            name
            for name, field in self.fields.items()
            if getattr(field, "unique", False) or getattr(field, "primary_key", False)
        ]
        if not cols:
            return {}
        aggs = [F.count(F.lit(1)).alias("__total")]
        for name in cols:
            aggs.append(F.count(F.col(name)).alias(f"__nonnull_{name}"))
            aggs.append(F.count_distinct(F.col(name)).alias(f"__distinct_{name}"))
        row = df.agg(*aggs).collect()[0].asDict()
        return {
            name: int(row[f"__nonnull_{name}"] - row[f"__distinct_{name}"])
            for name in cols
        }

    # ------------------------------------------------------------------
    # introspection
    # ------------------------------------------------------------------
    @property
    def schema(self) -> T.StructType:
        """The compiled Spark schema (copy)."""
        return T.StructType(list(self._struct_type.fields))

    def describe_constraints(self) -> list[str]:
        """Human-readable list of constraint messages, in order."""
        return [c.message for c in self._constraints]

    # ------------------------------------------------------------------
    # internals
    # ------------------------------------------------------------------
    def _coerce(
        self, df: DataFrame, fill_nulls: bool, keep: Sequence[str] = ()
    ) -> DataFrame:
        """Stages V1-V3 (+fill): required-check, defaults, cast-select.

        All lazy; the required-column check inspects only driver-side
        metadata (``df.columns``) and runs no job. Input columns named
        in ``keep`` that the schema does not declare pass through
        unchanged after the schema's columns; every other undeclared
        column is dropped.
        """
        # V1: fail fast on missing required (no-default) columns, named
        # in schema order so the message is the same in every process.
        present = set(df.columns)
        missing = [
            name
            for name, field in self.fields.items()
            if field.default is _MISSING and name not in present
        ]
        if missing:
            names = ", ".join(repr(name) for name in missing)
            raise ValueError(f"Missing required columns: {{{names}}}")

        # V2: inject missing defaulted columns; afterwards every field
        # is present.
        defaults = {
            name: F.lit(field.default).cast(field.get_spark_dtype())
            for name, field in self.fields.items()
            if name not in present
        }
        for name in defaults:
            logger.info(
                "Added column '%s' with default value: %s",
                name,
                self.fields[name].default,
            )

        # V3: cast + project + reorder to schema order; lossy casts
        # become null (try_cast — independent of spark.sql.ansi.enabled),
        # extra input columns are dropped.
        df = df.select(
            *[
                (
                    defaults[name]
                    if name in defaults
                    else F.col(name).try_cast(field.get_spark_dtype())
                ).alias(name)
                for name, field in self.fields.items()
            ],
            *[
                F.col(c)
                for c in dict.fromkeys(keep)
                if c in present and c not in self.fields
            ],
        )

        # Optional fill: nulls -> default, only where a default exists.
        if fill_nulls:
            fills = {
                name: F.coalesce(
                    F.col(name), F.lit(field.default).cast(field.get_spark_dtype())
                )
                for name, field in self.fields.items()
                if field.default is not _MISSING
            }
            if fills:
                df = df.withColumns(fills)
        return df

    def _checks(
        self, df: DataFrame, fill_nulls: bool, keep: Sequence[str] = ()
    ) -> tuple[DataFrame, list[_Check]]:
        """Coerce ``df`` and list the call's checks, which every output
        is built from: the null check of each non-nullable field that
        ``fill_nulls`` does not fill (V4), then each constraint that
        resolves against the coerced frame (V5-V7), in schema order.

        Analysis is driver-side only — no job runs — and is cached per
        frame schema, so ``validate``, ``validate_lazy`` and
        ``flag_violations`` on the same input analyse once between
        them. All constraints are analysed in one batched ``select``;
        only if that fails is each analysed alone, so that V7 drops just
        the constraints that cannot resolve (e.g. a column outside the
        schema, or a type-invalid operation), with a warning, mirroring
        the reference's error-tolerant evaluation (polars.py:230-246).
        """
        df = self._coerce(df, fill_nulls=fill_nulls, keep=keep)
        key = df.schema
        if key not in self._usable:
            usable = self._compile()
            try:
                if usable:
                    df.select(*[k.passes.cast("boolean") for k in usable])
            except Exception:
                usable = [k for k in usable if self._resolves(df, k)]
            self._usable[key] = usable
        nulls = [
            _Check(name, f"{name} must not be null", F.col(name).isNotNull())
            for name, field in self.fields.items()
            if not field.nullable
            and not (fill_nulls and field.default is not _MISSING)
        ]
        return df, nulls + self._usable[key]

    def _compile(self) -> list[_Check]:
        """DSL nodes -> Columns, once per validator (needs a session)."""
        if self._compiled is None:
            self._compiled = []
            for c in self._constraints:
                node = c.node
                try:
                    # isinstance first: Column.__getattr__ would satisfy
                    # hasattr(node, "to_spark") via struct-field access.
                    expr = node if isinstance(node, Column) else node.to_spark()
                except Exception as e:
                    _warn_skipped(c.id, c.message, e)
                    continue
                self._compiled.append(_Check(c.id, c.message, expr))
        return self._compiled

    @staticmethod
    def _resolves(df: DataFrame, check: _Check) -> bool:
        try:
            df.select(check.passes.cast("boolean"))
        except Exception as e:
            _warn_skipped(check.id, check.message, e)
            return False
        return True

    def _fetch_samples(self, df: DataFrame, applied: list[_Check]) -> list[Future]:
        """Submit one ``limit(10)`` sample job per violated constraint,
        all at once; each builds its plan off the caller's thread, fills
        its ``last_violations`` entry's ``rows`` and logs it. The calling
        thread's job description and local properties carry over to the
        fetch threads."""
        session = df.sparkSession
        # outside pinned-thread mode this returns the session itself
        inherit = inheritable_thread_target(session)
        fetches = []
        for violation, k in zip(self._violations, applied):

            def fetch(violation=violation, passes=k.passes) -> None:
                violation["rows"] = df.filter(~passes).limit(10).collect()
                logger.warning(
                    "Constraint violation: %s\nCount: %s\nRows: %s\n%s",
                    violation["constraint"],
                    violation["count"],
                    violation["rows"],
                    "-" * 80,
                )

            target = fetch if inherit is session else inherit(fetch)
            fetches.append(_sample_pool().submit(target))
        return fetches

    def _run_count_job(
        self, df: DataFrame, aggs: dict[str, Column]
    ) -> dict[str, int]:
        """Execute the merged count aggregation; fall back per-aggregate.

        ``aggs`` maps each check's id to its count aggregate. The
        merged job is the fast path (one scan). If it fails at runtime
        (a constraint whose expression errors on real data), each
        aggregate runs on its own so the failing one alone is skipped
        with a warning — the reference's per-constraint error
        tolerance, paid only on the error path.
        """
        try:
            row = df.agg(*(c.alias(a) for a, c in aggs.items())).collect()[0]
            return row.asDict()
        except Exception as merged_err:
            logger.warning(
                "Merged validation aggregate failed (%s); retrying per-constraint",
                merged_err,
            )
        counts: dict[str, int] = {}
        for alias, agg in aggs.items():
            try:
                counts[alias] = df.agg(agg).collect()[0][0] or 0
            except Exception as e:
                logger.warning("Could not evaluate constraint '%s': %s", alias, e)
        return counts

    @staticmethod
    def _render_sample(sample: DataFrame) -> str:
        """Render a small sample DataFrame for error messages."""
        rows = sample.collect()
        if not rows:
            return "(no sample rows collected)"
        cols = sample.columns
        header = ", ".join(cols)
        body = "\n".join(
            "(" + ", ".join(repr(row[c]) for c in cols) + ")" for row in rows
        )
        return f"columns: {header}\n{body}"


def create_spark_validator(schema_cls: "type[Schema]") -> SparkValidator:
    """Create a SparkValidator from a Schema class."""
    return SparkValidator(schema_cls)
