"""Physical-plan fingerprint metric table — the single source of truth
shared by the batch plan ratchet (``tools/plan_audit.py`` /
``tests/test_plan_snapshot.py``) and the streaming micro-batch plan pins
(``streaming/ops.py`` / ``tests/test_stream_state_shape.py``).

Each metric counts occurrences of a plan-node substring in an executed
physical plan's string rendering. The batch ratchet and the loop-stage
and foreachBatch pins render a frame's plan before any action on it, so
under AQE they count the initial plan: the declared shape, independent
of runtime statistics. "Worse" for the batch ratchet means
strictly greater than the pinned snapshot on any metric; the streaming
pins are exact (a micro-batch plan gaining OR losing an exchange is a
deliberate change either way).
"""

from __future__ import annotations

#: Metric name -> executed-plan substring counted.
METRICS: dict[str, str] = {
    "exchanges": "Exchange hashpartitioning",
    "single_partition": "Exchange SinglePartition",
    "python_eval": "BatchEvalPython",
    "arrow_eval": "ArrowEvalPython",
    "cartesian": "CartesianProduct",
    "sort_merge_joins": "SortMergeJoin",
    # Count EVERY Python boundary Spark renders with a distinct node
    # name — a plan could grow a whole pandas stage while "python_eval"
    # stays 0. Nonzero is CORRECT only for declared UDF-surface queries.
    "map_in_pandas": "MapInPandas",
    "map_in_arrow": "MapInArrow",
    "grouped_map_pandas": "FlatMapGroupsInPandas",
    "grouped_agg_arrow": "ArrowAggregatePython",
}


def count_metrics(plan: str) -> dict[str, int]:
    """Count each metric's plan-node substring in ``plan``."""
    return {m: plan.count(sub) for m, sub in METRICS.items()}


#: Internal-stage plan fingerprints since the last test-side clear —
#: the driver-loop analog of the streaming micro-batch pins. Operators
#: whose RETURNED frame is a localCheckpoint / createDataFrame scan
#: (yv10/za01/za02/za05/zb01: the engine work happens in loop stages
#: the batch ratchet cannot see) fingerprint those stages here via
#: :func:`record_plan`; tests pin the deduplicated label -> metrics
#: sets, so a loop stage silently gaining a shuffle or Python boundary
#: fails a test even though the returned plan is a local scan.
LOOP_PLAN_LOG: list[tuple[str, tuple[tuple[str, int], ...]]] = []


#: File-scan column sets observed per recorded stage — the pushdown
#: half of the loop-stage evidence: for checkpoint-returning operators
#: the corpus scan lives INSIDE a loop stage, so this is the only place
#: column pruning is checkable. One sorted column-name string per
#: ``ReadSchema`` in the stage plan.
SCAN_LOG: list[tuple[str, tuple[str, ...]]] = []

_READ_SCHEMA_TAG = "ReadSchema: struct<"


def _scan_schemas(plan: str) -> list[str]:
    """Sorted-field-name strings for every ``ReadSchema:`` in a plan
    string. Spark prints ReadSchema as the final token on its line; when
    ``spark.sql.maxMetadataStringLength`` truncates a long schema the
    closing ``>`` is elided to ``...`` — a closing-``>`` regex would
    silently drop that scan from the record (ADVICE r8), so this parses
    per-line, tags truncated bodies with an explicit ``<truncated>``
    marker, and raises on a ReadSchema line it cannot parse at all."""
    out: list[str] = []
    for line in plan.splitlines():
        idx = line.find(_READ_SCHEMA_TAG)
        if idx < 0:
            if "ReadSchema:" in line:
                raise RuntimeError(f"unparseable ReadSchema line: {line!r}")
            continue
        body = line[idx + len(_READ_SCHEMA_TAG) :].rstrip()
        if body.endswith(">"):
            names = _struct_field_names(body[:-1])
        else:  # truncated: '>' elided to '...' — visible, not silent
            names = [*_struct_field_names(body.rstrip(".")), "<truncated>"]
        out.append(",".join(sorted(names)))
    return sorted(out)


def _struct_field_names(body: str) -> list[str]:
    """Field names of a ``ReadSchema: struct<...>`` body, splitting on
    commas at nesting depth 0 only — ``decimal(10,2)``,
    ``array<struct<a:int,b:int>>`` etc. contain commas/colons that a
    naive ``split(',')`` turns into phantom column names like ``2)``
    (ADVICE r7). The name is the text before the first depth-0 colon."""
    names: list[str] = []
    depth = 0
    field_start = 0
    name_end = -1
    for i, ch in enumerate(body + ","):  # sentinel comma flushes the last field
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif depth == 0 and ch == ":" and name_end < field_start:
            name_end = i
        elif depth == 0 and ch == ",":
            if name_end >= field_start:
                names.append(body[field_start:name_end])
            elif i > field_start:  # field with no type (shouldn't happen)
                names.append(body[field_start:i])
            field_start = i + 1
    return names


def record_plan(df, label: str, seen: set | None = None) -> None:
    """Fingerprint an internal stage frame's physical plan into
    :data:`LOOP_PLAN_LOG` (pre-execution plan: deterministic for a
    fixed query shape, independent of AQE runtime choices), and its
    file-scan column sets into :data:`SCAN_LOG`.

    ``seen`` (r13): a caller-owned per-LOOP set; when given, each label
    is fingerprinted only on its first round of that loop invocation.
    The render forces a full extra analysis/optimization/physical-
    planning pass on the driver per call, and loop-stage plans are
    shape-identical across rounds BY THE PIN'S OWN CONTRACT (the tests
    pin deduplicated fingerprint sets) — bpe_learn alone paid 16
    renders per learn for 2 pinned fingerprints. Tests that clear the
    logs re-invoke the operator, which constructs a fresh ``seen`` and
    records every label again."""
    if seen is not None:
        if label in seen:
            return
        seen.add(label)
    plan = df._jdf.queryExecution().executedPlan().toString()
    LOOP_PLAN_LOG.append((label, tuple(sorted(count_metrics(plan).items()))))
    SCAN_LOG.append((label, tuple(_scan_schemas(plan))))


def observed_loop_plans() -> dict[str, list[dict[str, int]]]:
    """Deduplicated nonzero-metric fingerprints per label, for pinning."""
    seen: dict[str, set] = {}
    for label, fp in LOOP_PLAN_LOG:
        seen.setdefault(label, set()).add(fp)
    return {
        label: [dict((k, v) for k, v in fp if v) for fp in sorted(fps)]
        for label, fps in seen.items()
    }
