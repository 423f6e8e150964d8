"""Registry-wide executed-plan audit — the automated form of the hand
sweep that found the r07 graph-family lineage re-derivation (248
parquet scans in k-core's plan).

For every registered query, build the DataFrame at the given sf_dir
and count, in the FINAL executed plan:
  - parquet scans per source table (a self-join legitimately reads a
    file twice; a count much above the query's join arity means
    consumer branches are re-deriving lineage and the plan needs a
    checkpoint);
  - CartesianProduct / BatchEvalPython occurrences (always findings
    in core queries).

EXECUTION COST: this is NOT a plan-only pass.  Eager localCheckpoints
(the graph family, the funnel family, every audit-fixed plan) run
their materialization jobs at DataFrame-BUILD time, and several plans
stage parquet/stream state on disk — so auditing the full registry
EXECUTES the heavy subplans of every checkpointed query.  Keep sf_dir
small (sf0.001, the default: ~2-3 min for all 258) and never point it
at sf0.1 expecting a static analysis.

Prints one line per query over the scan threshold plus a JSON summary.
Usage: python scripts/audit_plans.py [sf_dir] [threshold] [-v]
       python scripts/audit_plans.py <sf_dir> --joins <out.json> [--scale N]
       python scripts/audit_plans.py --diff <before.json> <after.json>
  --joins: write the join census (join_census) instead of the scan
  audit; --diff: print what changed between two such files.
  --scale N: multiply every scan's size estimate by N
  (spark.sql.sources.fileCompressionFactor), so the census shows the
  joins Spark picks at N times the scale factor: a frame bounded by a
  constant Spark cannot see then loses its broadcast unless hinted.
  -v / --verbose: print the FULL traceback for every errored query
  instead of a 200-char summary (a systematic breakage — e.g. a bad
  import taking down a whole plan module — otherwise hides behind
  truncated per-query 'straggler' lines).

The accepted-flag set (plans where re-scanning beats materialization,
triaged by hand) is pinned EXACTLY by tests/test_plan_audit_gate.py —
a new multi-derivation plan, cartesian product, or Python eval fails
pytest, not just this script.
"""
from __future__ import annotations

import json
import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree_depth(line: str) -> int:
    """Indent depth of one treeString line (the tree-drawing prefix is
    spaces, ':', '+', '-'; node text starts at the first other char —
    codegen markers like '*(3)' start with '*')."""
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


#: One order-spec entry ends with a sort direction (optionally with
#: its nulls ordering): ``x#1 ASC NULLS FIRST``.  Anchored at entry
#: END so a sort-order string PRINTED INSIDE a partition expression
#: (a windowspecdefinition or sort_array argument) cannot match — it
#: is always followed by at least a closing paren there (r11 advice).
_ORDER_ENTRY_RE = re.compile(r"\b(ASC|DESC)( NULLS (FIRST|LAST))?$")


def _top_level_entries(group: str) -> list[str]:
    """Split one bracket group's inner text at top-level commas
    (paren/bracket-aware, so function arguments stay together)."""
    inner = group.strip()
    if inner.startswith("[") and inner.endswith("]"):
        inner = inner[1:-1]
    entries, depth, cur = [], 0, ""
    for ch in inner:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            entries.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        entries.append(cur.strip())
    return entries


def _window_is_unpartitioned(body: str) -> bool:
    """Given the text after a ``Window `` node name, decide whether the
    partition spec is empty.  treeString prints
    ``Window [exprs], [partitionSpec], [orderSpec]`` with empty specs
    OMITTED, so: one bracket group = no partition and no order; three
    = partitioned; two is ambiguous (partition-no-order vs
    order-no-partition) and is resolved by the ORDER-SPEC GRAMMAR:
    the last group is an order spec iff EVERY top-level entry ends
    with a sort direction (``ASC``/``DESC``, optionally ``NULLS
    FIRST/LAST``).  Substring matching was not enough (r11 advice): a
    partition expression can PRINT an embedded sort-order string
    (e.g. a windowspecdefinition argument), but there it is always
    inside parens, never at a top-level entry's end."""
    groups, depth, cur = [], 0, ""
    for ch in body:
        cur += ch
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur.strip(" ,"))
                cur = ""
    if len(groups) <= 1:
        return True
    if len(groups) >= 3:
        return False
    entries = _top_level_entries(groups[-1])
    return bool(entries) and all(_ORDER_ENTRY_RE.search(e)
                                 for e in entries)


#: Expensive per-row calls that must never re-evaluate per lambda
#: ITERATION: the two r12 finds (text_ngram_novelty,
#: text_repetition_filter) were exactly a split(text, ' ') inside a
#: transform lambda body — CollapseProject inlines the aliased column
#: into the lambda, so the split runs once per gram: O(words^2)
#: splits per document (see operators/dedup.py::let).
_EXPENSIVE_CALL_RE = re.compile(
    r"\b(split|sequence|regexp_extract_all|regexp_extract"
    r"|regexp_replace|regexp_like)\(")


def _balanced_span(text: str, open_paren: int) -> int:
    """Index just past the ')' matching the '(' at ``open_paren``."""
    depth = 0
    for j in range(open_paren, len(text)):
        if text[j] == "(":
            depth += 1
        elif text[j] == ")":
            depth -= 1
            if depth == 0:
                return j + 1
    return len(text)


def _invariant_lambda_calls(plan: str) -> int:
    """Count expensive calls inside ``lambdafunction(...)`` bodies
    whose arguments reference NO lambda variable (they print as
    ``lambda x#123``) — i.e. loop-invariant work re-evaluated once
    per collection element, the r12 CollapseProject let pitfall
    (verdict ask #7).  The fix is operators/dedup.py::let, which
    binds the expression to a one-element transform OUTSIDE the
    consuming lambda.  Distinct absolute offsets so a call inside a
    nested lambda is counted once."""
    flagged: set[int] = set()
    for m in re.finditer(r"lambdafunction\(", plan):
        body_start = m.end()
        body_end = _balanced_span(plan, m.end() - 1)
        body = plan[body_start:body_end - 1]
        for c in _EXPENSIVE_CALL_RE.finditer(body):
            call_text = body[c.start():_balanced_span(body, c.end() - 1)]
            if "lambda " not in call_text:
                flagged.add(body_start + c.start())
    return len(flagged)


#: Physical join operators counted per plan (the ``joins`` record).
JOIN_NODES = ("BroadcastHashJoin", "BroadcastNestedLoopJoin",
              "SortMergeJoin", "ShuffledHashJoin")


def audit_query(df) -> dict:
    """Scan/cartesian/python/window/join counts for one built
    DataFrame's final executed plan (for AQE plans, the initial one).

    Two scan counts per source table (r11, advice fix — the textual
    number alone mixed reprint artifacts with real re-derivations):

    - TEXTUAL: every ``Location: ...<table>.parquet`` occurrence in
      the plan string.  A persisted subplan's one scan reprints under
      each InMemoryTableScan consumer, so this number grows with the
      CONSUMER count of a cache, not with work.
    - PHYSICAL: the same count after cache substitution — each
      distinct InMemoryRelation's build subtree is counted ONCE (its
      scan really runs once, at materialization) and its reprints
      under further InMemoryTableScans are skipped (those consumers
      read cached blocks, not parquet).

    Also counts Window nodes with an EMPTY partition spec OUTSIDE
    cache reprints (r10 verdict ask #3): an unpartitioned window is a
    single-task corpus sort unless the frame is provably tiny, so the
    accepted set (|sources|-row, |months|-row aggregate frames) is
    pinned by tests/test_plan_audit_gate.py exactly like scans."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    per_source: dict[str, int] = {}
    for m in re.finditer(r"Location:.*?(\w+)\.parquet", plan):
        t = m.group(1)
        per_source[t] = per_source.get(t, 0) + 1

    per_source_physical: dict[str, int] = {}
    unpartitioned_windows = 0
    seen_caches: set[str] = set()
    skip_deeper_than: int | None = None
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        d = _tree_depth(line)
        if skip_deeper_than is not None:
            if d > skip_deeper_than:
                continue
            skip_deeper_than = None
        body = line[d:]
        if "InMemoryRelation" in body:
            # treeString reprints the cached BUILD plan under every
            # consumer's InMemoryTableScan, and DeduplicateRelations
            # re-aliases the InMemoryRelation HEADER per consumer —
            # but the build subtree below it is the one shared plan
            # object, printed with its ORIGINAL expr/plan ids, stable
            # across reprints (verified: three consumers of one cache
            # print byte-identical subtrees under re-aliased headers).
            # Key the relation by id-normalized HEADER + RAW subtree:
            # the raw ids ARE the per-relation identity (r11 advice —
            # full id normalization collapsed two genuinely distinct
            # caches with identical-printing builds into one key,
            # silently uncounting the second real scan; note Spark's
            # CacheManager dedups same-session identical persists, so
            # such twins arise only from non-canonically-equal plans,
            # which carry different original ids).  Count the build
            # once, skip reprints (cached blocks, not parquet).
            sub = [re.sub(r"#\d+", "#", body)]
            for nxt in lines[i + 1:]:
                nd = _tree_depth(nxt)
                if nd <= d:
                    break
                sub.append(nxt[nd:])
            key = "\n".join(sub)
            if key in seen_caches:
                skip_deeper_than = d
                continue
            seen_caches.add(key)
        m = re.search(r"Location:.*?(\w+)\.parquet", line)
        if m:
            t = m.group(1)
            per_source_physical[t] = per_source_physical.get(t, 0) + 1
        if body.startswith("Window ") and _window_is_unpartitioned(
                body[len("Window "):]):
            unpartitioned_windows += 1
    return {"per_source": per_source,
            "per_source_physical": per_source_physical,
            "unpartitioned_windows": unpartitioned_windows,
            "cartesian": plan.count("CartesianProduct"),
            "joins": {j: len(re.findall(rf"^[ :+\-]*(?:\*\(\d+\) )?{j}\b",
                                        plan, re.M))
                      for j in JOIN_NODES},
            "python": plan.count("BatchEvalPython"),
            "invariant_lambda_calls": _invariant_lambda_calls(plan)}


def audit(spark, sf_dir: str, *, threshold: int = 4,
          names=None, verbose: bool = False):
    """Audit `names` (default: every registered query) at `sf_dir`.

    Returns (flagged, errors): flagged maps query name -> counts dict
    for queries at/over the scan threshold or with any cartesian /
    Python eval; errors maps name -> message (full traceback when
    verbose).  NOTE: builds every plan, which EXECUTES eager-checkpoint
    subplans — see the module docstring for cost."""
    from kinesis_s3_data_shipper_spark.plans import REGISTRY, all_queries

    all_queries()
    flagged: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in (names if names is not None else list(REGISTRY)):
        spec = REGISTRY[name]
        try:
            # COLD cache per query: an earlier query's persisted
            # intermediate (e.g. minhash band signatures) otherwise
            # substitutes InMemoryRelation into a LATER query's plan,
            # breaking textual exchange-reuse detection — scan counts
            # would then depend on REGISTRY ORDER (the r10 window
            # reorder flipped dedup_minhash_lsh 4 -> 8 exactly this
            # way).  Catalog cache only; localCheckpoint blocks are
            # untouched.
            spark.catalog.clearCache()
            counts = audit_query(spec.spark(spark, sf_dir))
        except Exception as exc:  # audit everything; report stragglers
            if verbose:
                errors[name] = traceback.format_exc()
            else:
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        worst = max(counts["per_source"].values(), default=0)
        if (worst >= threshold or counts["cartesian"] or counts["python"]
                or counts["unpartitioned_windows"]
                or counts["invariant_lambda_calls"]):
            flagged[name] = counts
    return flagged, errors


def join_census(spark, sf_dir: str) -> dict:
    """The ``joins`` record (plus ``CartesianProduct``) of every
    registered query's final plan, and one per frame a query
    materializes with ``localCheckpoint`` (keyed ``<query>#<n>``): the
    per-round join choices a final plan does not show.  Recording the
    ``localCheckpoint`` call itself sees every materialization however
    its caller imported ``truncated_checkpoint``.  Builds every plan,
    so it executes checkpoints like :func:`audit`."""
    from pyspark.sql.classic.dataframe import DataFrame

    from kinesis_s3_data_shipper_spark.plans import REGISTRY, all_queries

    all_queries()
    census: dict[str, dict] = {}
    real = DataFrame.localCheckpoint
    frames: list = []

    def joins(df):
        counts = audit_query(df)
        return {**counts["joins"], "CartesianProduct": counts["cartesian"]}

    def recording(df, *args, **kwargs):
        frames.append(joins(df))
        return real(df, *args, **kwargs)

    DataFrame.localCheckpoint = recording
    try:
        for name in REGISTRY:
            frames.clear()
            spark.catalog.clearCache()
            try:
                census[name] = joins(REGISTRY[name].spark(spark, sf_dir))
            except Exception as exc:
                census[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            census.update((f"{name}#{i}", j) for i, j in enumerate(frames))
    finally:
        DataFrame.localCheckpoint = real
    return census


def join_diff(before: dict, after: dict) -> list[str]:
    """Lines for every plan whose join counts differ, then the
    final-plan totals (``BroadcastHashJoin/BroadcastNestedLoopJoin/
    SortMergeJoin/ShuffledHashJoin/CartesianProduct``) of each side."""
    lines = []
    nodes = JOIN_NODES + ("CartesianProduct",)
    for key in sorted(set(before) | set(after)):
        a, b = before.get(key, {}), after.get(key, {})
        if a != b:
            changed = ", ".join(f"{j} {a.get(j, '-')}->{b.get(j, '-')}"
                                for j in nodes if a.get(j) != b.get(j))
            lines.append(f"{key}: {changed or (a, b)}")
    for label, census in (("before", before), ("after", after)):
        totals = [sum(v.get(j, 0) for k, v in census.items() if "#" not in k)
                  for j in nodes]
        lines.append(f"{label} final-plan totals: "
                     + "/".join(map(str, totals)))
    return lines


def main() -> None:
    if sys.argv[1:2] == ["--diff"]:
        with open(sys.argv[2]) as fa, open(sys.argv[3]) as fb:
            print("\n".join(join_diff(json.load(fa), json.load(fb))))
        return
    if "--joins" in sys.argv:
        i = sys.argv.index("--joins")
        from kinesis_s3_data_shipper_spark.session import get_session

        spark = get_session("ksds-join-census")
        if "--scale" in sys.argv:
            spark.conf.set("spark.sql.sources.fileCompressionFactor",
                           sys.argv[sys.argv.index("--scale") + 1])
        census = join_census(spark, sys.argv[1])
        with open(sys.argv[i + 1], "w") as fh:
            json.dump(census, fh, indent=1, sort_keys=True)
        return
    args = [a for a in sys.argv[1:] if a not in ("-v", "--verbose")]
    verbose = len(args) != len(sys.argv) - 1
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.001"
    threshold = int(args[1]) if len(args) > 1 else 4

    from kinesis_s3_data_shipper_spark.session import get_session

    spark = get_session("ksds-plan-audit")
    flagged, errors = audit(spark, sf_dir, threshold=threshold,
                            verbose=verbose)
    for name, counts in flagged.items():
        print(f"FLAG {name}: {counts['per_source']}"
              f" physical={counts['per_source_physical']}"
              f" unpartitioned_windows={counts['unpartitioned_windows']}"
              f" cartesian={counts['cartesian']}"
              f" python={counts['python']}", flush=True)
    if verbose:
        for name, tb in errors.items():
            print(f"ERROR {name}:\n{tb}", flush=True)
    print(json.dumps(
        {"flagged": len(flagged),
         "errors": {n: e.splitlines()[-1] if verbose else e
                    for n, e in errors.items()},
         "threshold": threshold}, sort_keys=True))


if __name__ == "__main__":
    main()
