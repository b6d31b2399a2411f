"""Plan helpers: planner statistics for the budget-gated broadcast hints
(range_join composed-variant rowid gate, similarity vector re-attach
gate), and the reader-provenance registry the fused coverage and pileup
plans are chosen on.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import DataFrame


def plan_stats(df: DataFrame) -> tuple[int | None, int | None]:
    """(sizeInBytes, rowCount) from the OPTIMIZED plan's statistics — costs
    no job; parquet-backed lineages estimate bytes from (compressed) file
    size.  ``rowCount`` is present only when the plan can derive it (CBO
    stats, LocalRelation, limits) — ``None`` otherwise.  Returns
    ``(None, None)`` when the JVM statistics are unreachable (callers then
    withhold their hint and let the planner/AQE decide — fail-safe)."""
    try:
        st = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(st.sizeInBytes())
    except Exception:
        return None, None
    rows: int | None = None
    try:
        opt = st.rowCount()
        if opt.isDefined():
            rows = int(opt.get().longValue())
    except Exception:
        rows = None
    return size, rows


# Reader provenance: the alignment readers register each relation they
# return, with the arguments that built it, so coverage() and pileup() can
# re-plan an untransformed reader relation as a fused decode.  A relation
# is recognised by plan, not by Python object: a temp view over the reader,
# spark.table(view) and a ``SELECT *`` view all compare sameSemantics with
# it, while a filter, a projection or another file does not.  The registry
# holds the reader DataFrames, so provenance outlives the caller's own
# reference.  Nothing expires while its session runs: a call that repeats
# a registered relation (a repeated arrow reader call plans the same
# relation) adds nothing, a distinct one (another file or arguments, or an
# ``arrow=False`` call, whose RDD is new each time) adds one plan, and the
# entries of a stopped session are dropped.
_READERS: dict = {}  # (kind, args json) -> (args, [(df, columns)])
_READERS_LOCK = threading.Lock()


def _live(df: DataFrame) -> bool:
    return df.sparkSession.sparkContext._jsc is not None


def register_reader(kind: str, df: DataFrame, **args) -> DataFrame:
    """Record ``df`` as the relation the ``kind`` reader built from
    ``args`` (JSON-able reader arguments); returns ``df``."""
    key = (kind, json.dumps(args, sort_keys=True, default=str))
    with _READERS_LOCK:
        for k, (_, rels) in list(_READERS.items()):
            rels[:] = [r for r in rels if _live(r[0])]
            if not rels:
                del _READERS[k]
        rels = _READERS.setdefault(key, (args, []))[1]
        if not any(df.sameSemantics(old) for old, _ in rels):
            rels.append((df, tuple(df.columns)))
    return df


def reader_provenance(reads: DataFrame, kind: str) -> dict | None:
    """The arguments of the ``kind`` reader call whose relation ``reads``
    is semantically equal to (the reader's own rows, unfiltered and
    unprojected), or None."""
    cols = tuple(reads.columns)
    with _READERS_LOCK:
        cands = [
            (args, df)
            for k, (args, rels) in _READERS.items() if k[0] == kind
            for df, df_cols in rels if df_cols == cols and _live(df)
        ]
    for args, df in reversed(cands):
        if reads.sameSemantics(df):
            return args
    return None
