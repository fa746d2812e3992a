"""Physical-plan inspection: the engine's plan-IR surface.

The reference has no plan IR at all — its "plan" is opaque user bytecode
(reference mincemeat.py:284-290) and its optimizer surface is empty
(SURVEY.md §4.1).  Here the plan IR is Catalyst's, and this module is
the window into it: programmatic access to the properties the engine
promises (pushdown, pruning, broadcast, codegen), used by
tests/test_plans.py and available as a CLI for eyeballing any registered
query:

    python -m mincemeatpy_spark.plans.inspect wordcount [sf_dir]
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The executed physical plan as text (pre-execution AQE view)."""
    return df._jdf.queryExecution().executedPlan().toString()


def scan_properties(df: DataFrame) -> list[dict[str, str]]:
    """Per-scan pushdown/pruning facts: PushedFilters, PartitionFilters,
    ReadSchema — the three lines that decide how many bytes a 100 TB
    query reads."""
    plan = executed_plan(df)
    out = []
    for scan in re.finditer(r"FileScan \S+ ([^\[]*)\[[^\]]*\]([^\n]*)", plan):
        text = scan.group(0)
        props = {}
        for key in ("PushedFilters", "PartitionFilters", "ReadSchema", "SelectedBucketsCount"):
            m = re.search(rf"{key}: ?([^,]+(?:\([^)]*\))?[^,]*)", text)
            if m:
                props[key] = m.group(1).strip()
        out.append(props)
    return out


# One tree line: a run of "   "/":  " guides, an optional "+- "/":- "
# connector, an optional whole-stage-codegen marker, then the node name.
_NODE = re.compile(r"^([ :]*(?:[+:]- )?)(?:\*\(\d+\) )?([A-Za-z]\w*)")
# AQE prints its executed (Final/Current) plan and then the Initial one.
_SECTION = re.compile(r"^([ :]*[+:]- )== (\w+) Plan ==")
_EXCHANGE_KINDS = {"hashpartitioning": "hash", "rangepartitioning": "range",
                   "SinglePartition": "single", "RoundRobinPartitioning": "round_robin"}
_CALLS = {"md5": r"\bmd5\(", "sha": r"\bsha[12]?\(", "regexp": r"\bregexp\w*\(",
          "split": r"\bsplit\("}


def _plan_nodes(plan_text: str) -> list[tuple[int, str, str]]:
    """(depth, node name, line) per operator line of a plan tree.  An AQE
    ``== Initial Plan ==`` section is dropped: the Final/Current one ran."""
    nodes, skip_from = [], None
    for line in plan_text.splitlines():
        sec = _SECTION.match(line)
        if sec:
            skip_from = len(sec.group(1)) if sec.group(2) == "Initial" else None
            continue
        m = _NODE.match(line)
        if not m:
            continue
        depth = len(m.group(1))
        if skip_from is not None:
            if depth >= skip_from:
                continue
            skip_from = None
        nodes.append((depth, m.group(2), line))
    return nodes


def plan_facts(plan_text: str) -> dict[str, object]:
    """Shape summary of a physical plan as ``executedPlan().toString()``
    (or the SQL status store under ``spark.sql.ui.explainMode=simple``)
    prints it: shuffle ``exchanges`` by kind (hash, range, single,
    round_robin; broadcasts are not shuffles), ``reused_exchanges``
    (leaves, not exchange sites), ``joins`` and ``python`` operators by
    node name, ``calls`` of md5, sha1/sha2, regexp* and split, and the
    child node name of every ``Exchange SinglePartition``
    (``single_partition``, SCALE.md rule 11)."""
    nodes = _plan_nodes(plan_text)
    exchanges, joins, python = Counter(), Counter(), Counter()
    single, reused = [], 0
    for i, (depth, name, line) in enumerate(nodes):
        if name == "Exchange":
            part = re.search(r"Exchange (\w+)", line).group(1)
            kind = _EXCHANGE_KINDS.get(part, "other")
            exchanges[kind] += 1
            if kind == "single":
                child = nodes[i + 1] if i + 1 < len(nodes) else None
                single.append(child[1] if child and child[0] > depth else None)
        elif name == "ReusedExchange":
            reused += 1
        elif name.endswith("Join") or name == "CartesianProduct":
            joins[name] += 1
        elif re.search(r"Python|Pandas|InArrow", name):
            python[name] += 1
    text = "\n".join(line for _, _, line in nodes)
    calls = Counter({k: len(re.findall(p, text)) for k, p in _CALLS.items()})
    return {
        "exchanges": exchanges,
        "reused_exchanges": reused,
        "joins": joins,
        "python": python,
        "calls": +calls,
        "single_partition": single,
    }


def main() -> None:
    import json
    import sys

    from mincemeatpy_spark.registry import load_all_queries
    from mincemeatpy_spark.session import get_spark

    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = get_spark("plan-inspect")
    df = load_all_queries()[name].fn(spark, sf_dir)
    df.explain("formatted")
    print("scans:", scan_properties(df))
    print(json.dumps(plan_facts(executed_plan(df)), sort_keys=True))


if __name__ == "__main__":
    main()
