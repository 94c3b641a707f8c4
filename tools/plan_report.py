"""Generate PLANS.md: physical-plan quality evidence for every query.

For each __spark_entry__.queries() entry, records scan pruning
(ReadSchema), predicate pushdown (PushedFilters), exchange/broadcast
counts, and whole-stage-codegen span count — the `.explain("formatted")`
audit the 100 TB design review asks for, kept fresh by re-running:

    python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import re
import sys


def plan_stats(df) -> dict:
    # execute THIS DataFrame's own plan first: under AQE only the final
    # executed plan carries codegen ids and runtime-chosen join
    # strategies (a write command would execute a separate copy)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    # Exchange counts come from the FINAL executed tree (AQE may reuse
    # or eliminate exchanges, depending on which stages finish first);
    # ``planned_shuffles`` from the initial tree, which is the same on
    # every call. Scan/codegen details come from the full text (operator
    # details are printed after the trees, past the first blank line).
    final_tree = p.split("== Initial Plan ==")[0]
    initial_tree = p.split("\n\n")[0].split("== Initial Plan ==")[-1]
    scans = []
    for m in re.finditer(r"Scan parquet[^\n]*\n(?:.*\n)*?.*ReadSchema: ([^\n]+)", p):
        scans.append(m.group(1).strip())
    pushed = sorted(set(f for f in re.findall(r"PushedFilters: \[([^\]]*)\]", p) if f))
    return {
        "exchanges": len(re.findall(r"\bExchange \(", final_tree)),
        "planned_shuffles": len(re.findall(r"\bExchange \(", initial_tree)),
        "broadcasts": final_tree.count("BroadcastExchange"),
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", p))),
        "scans": sorted(set(scans)),
        "pushed": pushed,
        "python": re.search(r"ArrowEvalPython|MapIn(Pandas|Arrow)|FlatMapGroupsInPandas", p) is not None,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sys.path.insert(0, ".")
    import __spark_entry__ as entry_mod

    from ocr_lib_spark.session import get_spark

    spark = get_spark(cores=8, shuffle_partitions=8)
    lines = [
        "# PLANS — physical-plan audit (auto-generated by tools/plan_report.py)",
        "",
        f"Source: `{sf_dir}`. Shuffle exchanges exclude broadcasts. `shuffles`",
        "counts the final adaptive plan, which can change from run to run;",
        "`planned` counts the initial plan, which does not. A scan's",
        "ReadSchema shows column pruning; PushedFilters shows predicate",
        "pushdown reaching parquet. `python-stage` marks Arrow-batched",
        "pandas-UDF and mapInArrow stages (the engine's only non-codegen",
        "operators).",
        "",
        "| query | shuffles | planned | broadcasts | codegen spans | python stage "
        "| pushed filters | narrowest scan |",
        "|---|---|---|---|---|---|---|---|",
    ]
    # registry-name order: queries() order follows gate staleness, so a
    # regeneration diff would show rows moving that no plan moved
    for name, fn in sorted(entry_mod.queries().items()):
        try:
            st = plan_stats(fn(spark, sf_dir))
        except Exception as e:  # pragma: no cover
            lines.append(f"| {name} | ERROR: {type(e).__name__} | | | | | | |")
            continue
        scan = min(st["scans"], key=len) if st["scans"] else "(in-memory)"
        pushed = "; ".join(st["pushed"])[:80] or "—"
        lines.append(
            f"| {name} | {st['exchanges']} | {st['planned_shuffles']} | {st['broadcasts']} | "
            f"{st['codegen_spans']} | {'yes' if st['python'] else '—'} | "
            f"{pushed} | `{scan[:90]}` |"
        )
    spark.stop()
    lines += [
        "",
        "Notes:",
        "- conv_* assembly is one groupBy(conv_id) with a map-side partial",
        "  aggregate: at most ONE shuffle, on conv_id, and none when its",
        "  input already sits in one partition.",
        "- stream_extract_text is audited post-hoc (memory sink), so its row",
        "  shows the sink scan, not the streaming micro-batch plan; ditto",
        "  stream_conv_assembly (the conv_* assembly aggregate grouped by",
        "  conv_id and an event-time session window).",
        "- percentile_pick (round 3): distributed order statistics — the",
        "  broadcast joins carry the per-(type,q) search-state table; the",
        "  only window runs over candidate sets capped at 64Ki rows BY",
        "  CONSTRUCTION. No per-type single-task global sort remains",
        "  (the round-2 scale hazard); the window twin is equivalence-",
        "  pinned in tests.",
        "- near_dup_clusters is audited on its final labeling: a scan of",
        "  the checkpointed union-find kernel output when the edges fit",
        "  one partition (every measured scale). With more partitions the",
        "  contracted-graph propagation rounds run before the audited plan;",
        "  each is hash-partitioned joins + groupBy, checkpoint-truncated.",
    ]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
