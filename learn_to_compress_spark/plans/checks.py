"""Physical-plan inspection helpers.

The engine relies on Catalyst for table-level pushdown (the reference has no
optimizer at all — SURVEY.md §4); these helpers read the formatted plan so
tests and bench runs can ASSERT the properties instead of assuming them:

* ``pushed_filters`` — predicates that reached the Parquet scan
  (e.g. ``column IN (...)`` on the chunk store's ``column`` field);
* ``scan_read_schema`` — columns actually read by each scan (payload bytes
  must not be read by metadata-only operators);
* ``wholestage_codegen_spans`` — how much of the plan runs inside
  WholeStageCodegen (the JVM fast path);
* ``kernel_partitions`` — how many tasks feed each Python map kernel.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_text(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Each pushed predicate, split at the list's top-level commas only
    (``In(part_id, [0,1])`` is one predicate)."""
    text = explain_text(df)
    out = []
    for line in re.findall(r"PushedFilters: \[(.*)\]", text):
        depth, cur = 0, ""
        for ch in line:
            if ch == "," and depth == 0:
                out.append(cur.strip())
                cur = ""
                continue
            depth += (ch in "([") - (ch in ")]")
            cur += ch
        if cur.strip():
            out.append(cur.strip())
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema field lists per scan (column pruning evidence)."""
    text = explain_text(df)
    schemas = []
    for m in re.finditer(r"ReadSchema: struct<(.*?)>", text):
        fields = [f.split(":")[0].strip() for f in m.group(1).split(",") if f]
        schemas.append(fields)
    return schemas


def wholestage_codegen_spans(df: DataFrame) -> int:
    return explain_text(df).count("WholeStageCodegen")


def shuffle_exchanges(df: DataFrame) -> int:
    """Count of DISTINCT shuffle exchanges in the plan (BroadcastExchange
    of tiny metadata sides is fine at scale; a hash/range Exchange of chunk
    rows is the 100 TB anti-pattern the store layout exists to avoid).

    The formatted plan prints every node twice — once in the tree
    (``+- Exchange (11)``) and once in the details (``(11) Exchange``) — so
    distinct node ids are counted, not raw matches."""
    text = explain_text(df)
    # tree lines name the node id: "+- Exchange (11)"; ReusedExchange is a
    # pointer to an already-counted node, not a second shuffle
    ids = set(re.findall(r"(?<!Broadcast)(?<!Reused)Exchange \((\d+)\)", text))
    if ids:
        return len(ids)
    # non-formatted fallback (simple/extended explain text)
    return len(re.findall(r"(?<!Broadcast)(?<!Reused)Exchange ", text))


def kernel_partitions(df: DataFrame) -> list[int]:
    """Partition count of the input of each Python map kernel
    (``MapInArrow``/``MapInPandas``) in ``df``'s physical plan, in plan
    order — one Python task per partition. Builds the kernels' input RDDs;
    runs no Spark job."""
    out: list[int] = []

    def walk(node) -> None:
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if name.endswith("QueryStage"):
            return walk(node.plan())
        if name in ("MapInArrow", "MapInPandas"):
            out.append(node.child().execute().getNumPartitions())
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out
