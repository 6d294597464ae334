"""Plan audit: dump key physical-plan hygiene facts for every headline
query into PLANS.md — the 'is this the plan you'd want at 100×?' check,
kept under version control so regressions show up in diffs.

Checks per query (node names are matched whole, at the start of each
plan line):
- Exchange count (shuffles — the scale currency)
- WindowExec count (each is a per-key sort-and-run stage)
- whole-stage codegen coverage (codegen'd spans vs interpreted)
- parquet PushedFilters / ReadSchema pruning (scan-level pushdown)
- Python escape hatches (every node whose name says Python, Pandas or
  Arrow: ArrowEvalPython, MapInArrow, FlatMapGroupsInPandas, ...)
- BroadcastHashJoin vs SortMergeJoin choices
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: node names of the operators that run Python workers (ArrowEvalPython,
#: MapInArrow, FlatMapGroupsInPandas, ArrowWindowPython, ...)
_PY_NODE = re.compile(r"Python|Pandas|Arrow")

# one plan line: tree drawing ("+- ", ":  "), an optional "!" marker
# and codegen stage "*(n) ", then the node name
_NODE_LINE = re.compile(r"^[\s:+|-]*!?(?:\*\(\d+\)\s+)?([A-Za-z]\w*)(.*)$")


def plan_nodes(plan: str) -> list[tuple[str, str]]:
    """(node name, rest of line) for every node of a physical-plan
    string, read from the start of each line — so ``Window`` never
    matches ``WindowGroupLimit`` and an expression that mentions a node
    name inside brackets is never counted."""
    out = []
    for line in plan.splitlines():
        m = _NODE_LINE.match(line)
        if m:
            out.append((m.group(1), m.group(2)))
    return out


def audit(plan: str) -> dict:
    nodes = plan_nodes(plan)
    names = [n for n, _ in nodes]
    return {
        "exchanges": sum(
            1
            for n, rest in nodes
            if n == "Exchange"
            and re.match(r"\s*(?:hashpartitioning|rangepartitioning|SinglePartition)", rest)
        ),
        "windows": names.count("Window"),
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "bhj": names.count("BroadcastHashJoin"),
        "smj": names.count("SortMergeJoin"),
        "python": sum(1 for n in names if _PY_NODE.search(n)),
        "pushed": re.search(r"PushedFilters: \[[^\]]", plan) is not None,
    }


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _parse_size(s: str) -> float:
    """First quantity of a SQLMetric value string ("928.4 KiB" or
    "total (min, med, max...)\n106.0 KiB (...)") as bytes."""
    for line in s.splitlines():
        line = line.strip()
        m = re.match(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)", line)
        if m:
            return float(m.group(1)) * _UNITS[m.group(2)]
    return 0.0


def _fmt_size(n: float) -> str:
    for unit in ("B", "KiB", "MiB", "GiB", "TiB"):
        if n < 1024 or unit == "TiB":
            return f"{n:.1f} {unit}" if unit != "B" else f"{int(n)} B"
        n /= 1024
    return f"{n:.1f} TiB"


def _shuffle_bytes_written(spark) -> float:
    """Sum of 'shuffle bytes written' over the LAST SQL execution —
    the executed-plan shuffle VOLUME (VERDICT r6 #5): a regression in
    shuffle bytes (widened band key, struct donor) is visible even
    when the Exchange count is unchanged."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    if execs.isEmpty():
        return 0.0
    last = execs.last()
    mv = store.executionMetrics(last.executionId())
    total = 0.0
    it = last.metrics().iterator()
    while it.hasNext():
        m = it.next()
        if m.name() == "shuffle bytes written" and mv.contains(m.accumulatorId()):
            total += _parse_size(mv.apply(m.accumulatorId()))
    return total


def main() -> None:
    import __spark_entry__ as entrymod
    from bench import HEADLINE
    from recipys_spark.sources.io import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    bytes_sf_dir = os.environ.get("SPARK_GRAFT_BYTES_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(parallelism=8, shuffle_partitions=8, app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    rows = []
    for name in HEADLINE:
        df = queries[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        a = audit(plan)
        # executed shuffle volume at sf0.1: run the query through the
        # noop sink and read the SQL status store's metric values
        df_b = queries[name](spark, bytes_sf_dir)
        df_b.write.format("noop").mode("overwrite").save()
        a["shuffle_bytes"] = _shuffle_bytes_written(spark)
        rows.append((name, a))
    with open("PLANS.md", "w") as f:
        f.write(
            "# PLANS — physical-plan audit of the headline queries\n\n"
            f"Generated by scripts/explain_audit.py at {sf_dir} "
            "(AQE on; executedPlan before adaptive re-plan; shuffle bytes "
            f"from the EXECUTED plan's metrics at {bytes_sf_dir}).\n\n"
            "| query | shuffles | shuffle bytes (sf0.1) | window execs | codegen spans | "
            "BHJ | SMJ | python stages | pushed filters |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, a in rows:
            f.write(
                f"| {name} | {a['exchanges']} | {_fmt_size(a['shuffle_bytes'])} | "
                f"{a['windows']} | "
                f"{a['codegen_spans']} | {a['bhj']} | {a['smj']} | {a['python']} | "
                f"{'yes' if a['pushed'] else '—'} |\n"
            )
        f.write(
            "\nReading guide:\n"
            "- *shuffles*: each Exchange is a full repartition of its input —\n"
            "  the quantity to minimize at 100 TB. Window-step queries budget\n"
            "  ONE shuffle (partitionBy the group key); fitted scalers/encoders\n"
            "  budget one aggregation exchange for the fit and zero at transform.\n"
            "- *window execs*: per-key sorted stages; >1 means specs didn't\n"
            "  fuse (different partition/order keys).\n"
            "- *python stages*: Arrow-batched escape hatches (exact median,\n"
            "  model imputation, multimodal) — everything else stays JVM-side.\n"
            "- salted/banded variants trade MORE small shuffles for bounded\n"
            "  per-task input; their shuffle counts are expected to be higher\n"
            "  (see BENCH.md crossover measurements for when that wins).\n"
            "- *corpus_curate_full* counts only its FINAL stage: the chain puts\n"
            "  a lazy localCheckpoint barrier after clean_corpus and after\n"
            "  dedup_paragraphs (each downstream stage references its input\n"
            "  more than once; without the barrier Spark re-executes the whole\n"
            "  upstream MinHash chain per reference — measured 13.6 s vs\n"
            "  ~5.5 s at sf0.1), so the audit's plan walk stops at the barrier\n"
            "  RDD scans. The full chain budget = corpus_clean (8) +\n"
            "  dedup_paragraphs (2) + this row's 2 — see those standalone rows.\n"
        )
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
