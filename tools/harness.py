"""What every tool shares: the vanilla session, ``[sf_dir] [name ...]``
arguments, the per-query loop and one reading of explain text.

Run a tool from the repo root as ``python tools/<tool>.py``; each puts the
repo on ``sys.path`` and imports this module as ``tools.harness``.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

from logflow.sources.tables import DEFAULT_SF_DIR as _BENCH_SF_DIR

#: The correctness gate's scale, beside the bench scale's directory.
GATE_SF_DIR = os.path.join(os.path.dirname(_BENCH_SF_DIR), "sf0.01")


def vanilla_spark(cores: int):
    """The correctness gate's session shape: ``local[cores]`` with as many
    shuffle partitions and none of logflow.session's confs — the gate runs
    every query on such a session."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("logflow-tools")
        .config("spark.sql.shuffle.partitions", str(cores))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def select(names: list[str]) -> dict:
    """The named registry queries in the order given (all when no names);
    unknown names stop the tool before any session starts."""
    from logflow.queries import load_all

    registry = load_all()
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    return {n: registry[n] for n in names} if names else registry


def parse_args(argv: list[str]) -> tuple[str, dict]:
    """``[sf_dir] [name ...]`` -> (sf_dir, selected queries)."""
    return (argv[0] if argv else GATE_SF_DIR), select(argv[1:])


def run_each(spark, queries: dict, action, errors: dict[str, str], tag: str, phase: str = "") -> dict:
    """``action(name, q)`` for each query; the results of those that
    succeeded.  A query that raises has its first error kept in ``errors``
    (and printed to stderr) and the loop goes on.

    After every query its tracked persists and the cache are dropped: 347
    queries' accumulated cached blocks otherwise exhaust the vanilla
    session's broadcast memory near the end of a sweep
    (ml_pca_power_iteration failed to broadcast a 64-float frame at sf0.1
    in round 9 for exactly this reason — the gate runs one query per
    process and never sees the buildup)."""
    from logflow.operators.cache import release_all

    results = {}
    for name, q in queries.items():
        try:
            results[name] = action(name, q)
        except Exception as exc:
            lines = str(exc).strip().splitlines()
            msg = f"{phase}{type(exc).__name__}: {lines[0][:300] if lines else ''}"
            errors.setdefault(name, msg)
            print(f"[{tag}] {name} failed: {msg}", file=sys.stderr)
        finally:
            release_all()
            spark.catalog.clearCache()
    return results


def exit_status(errors: dict[str, str]) -> int:
    """Print ``n_failed`` and return the tool's exit status: 1 when any
    query failed."""
    print(f"n_failed: {len(errors)}")
    return 1 if errors else 0


def plan(df) -> str:
    """The ``formatted`` explain of a DataFrame, as ``df.explain("formatted")``
    prints it."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


#: Tree line: drawing characters, the operator, its id — "+- * Filter (22)".
_TREE = re.compile(r"^[ :|+\-*]*([A-Z][^\n(:]*?) +\((\d+)\)", re.M)
#: Detail header — "(22) Filter [codegen id : 3]" — and the node's fields.
_DETAIL = re.compile(
    r"^\((\d+)\) ([^\n\[]*)(?:\[codegen id : (\d+)\])?[^\n]*\n(.*?)(?=^\(\d+\) |\Z)", re.M | re.S
)


def _kind(name: str) -> str:
    """Operator kind of a node name: its first word, two for scans
    ("Scan parquet", "Scan ExistingRDD")."""
    words = name.split()
    return " ".join(words[:2]) if words[0] == "Scan" else words[0]


#: plan_stats kinds of the operators that run Python over Arrow batches:
#: every ``*InPandas*`` / ``*InArrow*`` node (map, grouped, cogrouped,
#: stateful) and the Arrow UDF evaluators (``ArrowEvalPython`` and its
#: aggregate, window and UDTF forms).  ``BatchEvalPython`` pickles rows.
_ARROW_PYTHON = re.compile(r"In(?:Pandas|Arrow)|^Arrow\w*Python")


def arrow_python_nodes(nodes: Counter) -> int:
    """How many of plan_stats' ``nodes`` run Python over Arrow batches."""
    return sum(n for kind, n in nodes.items() if _ARROW_PYTHON.search(kind))


def plan_stats(text: str) -> dict:
    """One feature record of a ``formatted`` plan, from its ``(N) Operator``
    detail headers and the tree lines that place those nodes.

    * ``nodes`` / ``appearances``: per operator kind ("Exchange" is the
      shuffle, "BroadcastExchange", "ReusedExchange", each join, ...),
      distinct nodes and tree appearances — a subtree re-embedded in the
      tree (a lazily persisted frame read by several consumers) repeats
      its ids.  "WholeStageCodegen" counts codegen stages; a stage appears
      as often as its most repeated node.
    * ``scans``: tree appearances of parquet scans keyed by their
      ``Location`` path, so distinct tables are never lumped;
      ``unparsed_scans`` counts appearances without a parsable Location (a
      non-zero count means the format moved) and ``total_scans`` all.
    * ``pushed_scans``: parquet scan nodes with non-empty ``PushedFilters``.
    * ``hof_filters``: Filter nodes whose condition holds a lambdafunction.

    For an executed adaptive plan only the final plan counts: the
    top-level ``== Initial Plan ==`` it supersedes is skipped.  The final
    and initial plans a cached frame's adaptive plan prints inside its
    InMemoryRelation are both counted, as they appear in the text.
    """
    cut = re.search(r"^\+- == Initial Plan ==\n(?:.+\n)*", text, re.M)
    tree = text[: cut.start()] + text[cut.end() :] if cut else text
    seen: Counter = Counter()
    tree_names: dict[str, str] = {}
    for name, nid in _TREE.findall(tree):
        seen[nid] += 1
        tree_names.setdefault(nid, name)
    details = {m.group(1): m.groups()[1:] for m in _DETAIL.finditer(text)}
    nodes: Counter = Counter()
    appearances: Counter = Counter()
    stages: dict[str, int] = {}
    scans: Counter = Counter()
    unparsed = total = 0
    pushed: list[str] = []
    hof: list[str] = []
    for nid, n in seen.items():
        name, stage, body = details.get(nid, (tree_names[nid], None, ""))
        kind = _kind(name)
        nodes[kind] += 1
        appearances[kind] += n
        if stage:
            stages[stage] = max(stages.get(stage, 0), n)
        if kind == "Scan parquet":
            total += n
            loc = re.search(r"^Location: [^\[\n]*\[([^\]]+)\]", body, re.M)
            if loc:
                scans[loc.group(1)] += n
            else:
                unparsed += n
            if re.search(r"^PushedFilters: \[[^\]]", body, re.M):
                pushed.append(nid)
        if kind == "Filter" and re.search(r"^Condition : [^\n]*lambdafunction", body, re.M):
            hof.append(nid)
    nodes["WholeStageCodegen"] = len(stages)
    appearances["WholeStageCodegen"] = sum(stages.values())
    return {
        "nodes": nodes,
        "appearances": appearances,
        "scans": dict(scans),
        "total_scans": total,
        "unparsed_scans": unparsed,
        "pushed_scans": pushed,
        "hof_filters": hof,
    }
