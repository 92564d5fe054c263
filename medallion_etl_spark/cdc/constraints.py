"""Declarative CHECK constraints on a LakeTable.

The Delta Lake ``ALTER TABLE ... ADD CONSTRAINT ... CHECK`` analog: a
named SQL predicate stored in table metadata that every write must
satisfy. The reference has no equivalent — its typed DDL plus the
extract layer's ad-hoc row filtering (reference
etl/extract/hectolitros_loader.py's skip-non-numeric loop) is the
closest thing, and it lives outside the pipeline; here the contract
travels WITH the table, so every writer (batch replay, streaming
epochs, predicate DML) enforces it at the same choke point.

Semantics (SQL-standard CHECK):
- a row VIOLATES a constraint only when the predicate evaluates to
  FALSE; TRUE and NULL/UNKNOWN both pass (so ``CHECK (n_tok > 0)``
  admits a NULL ``n_tok`` — add an explicit ``IS NOT NULL`` conjunct
  for NOT-NULL semantics);
- delete tombstones are exempt: a 'D' event names a key, not a
  payload, so payload predicates have nothing to check;
- enforcement: the replayers' fail/quarantine/drop ``on_violation``
  policy (and the malformed-event policy, which wins per row) is
  decided in cdc/triage.py; ``apply_batch``'s direct callers
  (predicate DML, redrive) enforce 'fail' on their own stats job.

Everything is pure column expressions — no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def violation_reason(constraints: dict[str, str], *, op_aware: bool = True) -> Column | None:
    """NULL iff the row satisfies every constraint, else
    ``check:<name>`` of the first (name-ordered) violated one.

    ``op_aware=True`` (change events): 'D' tombstones are exempt.
    ``op_aware=False`` (stored rows, e.g. ``add_constraint``'s
    validation of existing data): every row is checked.

    Returns None when there are no constraints, so callers can skip
    building the expression entirely.
    """
    if not constraints:
        return None
    w = None
    for name in sorted(constraints):
        cond = F.expr(f"({constraints[name]}) IS FALSE")
        if op_aware:
            cond = ~F.col("op").eqNullSafe(F.lit("D")) & cond
        lit = F.lit(f"check:{name}")
        w = F.when(cond, lit) if w is None else w.when(cond, lit)
    return w

