"""Physical-plan audit: assert the plans we designed for are the plans we
get — column pruning at the scan, filter pushdown, broadcast joins for dims,
whole-stage codegen around window stats. Run: python scripts/explain_audit.py
"""

from __future__ import annotations

import os
import re as _re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _window_partition_keys(spec_args: str) -> list[str]:
    """Partition columns of a windowspecdefinition(...) argument list: the
    leading bare column refs before the first ordered (ASC/DESC) or frame
    argument, attribute ids stripped."""
    keys = []
    for a in (x.strip() for x in spec_args.split(",")):
        if "ASC" in a or "DESC" in a or "specifiedwindowframe" in a:
            break
        keys.append(_re.sub(r"#\d+L?", "", a))
    return keys

from pyspark.sql import functions as F  # noqa: E402

from tods_spark.operators.compression import pack_tier  # noqa: E402
from tods_spark.operators.rollup import refresh_tier, rollup_raw  # noqa: E402
from tods_spark.queries import QUERIES  # noqa: E402
from tods_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"
checks = []


def check(name: str, ok: bool, detail: str = "") -> None:
    checks.append((name, ok))
    print(f"{'PASS' if ok else 'FAIL'} {name} {detail}")


def main() -> None:
    spark = get_spark()

    # 1. column pruning: the rollup over the token table must NOT read tokens
    import tempfile

    from tods_spark.datagen import token_table

    with tempfile.TemporaryDirectory() as td:
        token_table(spark, 2000).write.parquet(f"{td}/tok")
        plan = rollup_raw(spark.read.parquet(f"{td}/tok"), "1m")._jdf.queryExecution().executedPlan().toString()
        scan = [line for line in plan.splitlines() if "ReadSchema" in line]
        pruned = scan and all("tokens" not in line for line in scan)
        check("rollup scan prunes tokens column", bool(pruned),
              scan[0].strip()[-120:] if scan else "no scan line")

    # 2. filter pushdown reaches the parquet scan
    q = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("event_type") == "error")
        .select("event_id")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    check("filter pushdown (PushedFilters)", "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]" in plan
          or "EqualTo(event_type,error)" in plan)

    # 3. denormalize join uses broadcast for dims
    plan = QUERIES["denormalize_revenue"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    check("denormalize uses BroadcastHashJoin", "BroadcastHashJoin" in plan)
    check("denormalize avoids cartesian", "CartesianProduct" not in plan)

    # 4. window stats stay in WholeStageCodegen / Tungsten WindowExec
    q = QUERIES["stat_mean_w5"](spark, SF)
    plan = q._jdf.queryExecution().executedPlan().toString()
    check("stat window uses WindowExec", "Window" in plan)
    # under AQE, WholeStageCodegen nodes materialize per query stage at
    # runtime and don't print pre-execution — flip AQE off for the check
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        fmt = QUERIES["stat_mean_w5"](spark, SF)._jdf.queryExecution(
        ).executedPlan().toString()
        check("stat window has codegen spans", "*(" in fmt)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    check("stat window has no Python eval in hot path",
          "BatchEvalPython" not in plan)

    # 5. rollup agg is partial (map-side combine) — two HashAggregate stages
    plan = QUERIES["rollup_1m"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    check("rollup has partial+final HashAggregate",
          plan.count("HashAggregate") >= 2)

    # 6. AQE enabled
    check("AQE on", spark.conf.get("spark.sql.adaptive.enabled") == "true")

    # 7. ANN top-k is a parallel partial top-k (TakeOrderedAndProject),
    #    never a global single-partition Window over all scored rows
    plan = QUERIES["ann_cosine_top5"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    check("ann top-k plans TakeOrderedAndProject",
          "TakeOrderedAndProject" in plan)
    check("ann top-k has no single-partition exchange before the limit",
          "Exchange SinglePartition" not in plan.split("TakeOrderedAndProject")[0])

    # 8. jaccard self-join: no BROADCAST HINT on the per-doc sizes dim (AQE
    #    may still choose broadcast at tiny SF — the hint is the scale bug).
    #    The optimized logical plan records hints explicitly.
    logical = QUERIES["ngram_jaccard_pairs"](spark, SF)._jdf.queryExecution(
    ).optimizedPlan().toString()
    check("jaccard has no explicit broadcast hint on doc-cardinality dims",
          "UnresolvedHint" not in logical and "hints=[broadcast]" not in logical)

    # 9. split query needs no global Window (fold sizes are arithmetic on n)
    plan = QUERIES["timeseries_split_5fold"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    check("timeseries split has no Window operator", "Window" not in plan)

    # 10. the digest rollup never ships raw values through the shuffle:
    #     no collect_list over the raw scan (map-side partials only)
    with tempfile.TemporaryDirectory() as td:
        token_table(spark, 2000).write.parquet(f"{td}/tok")
        t1m = rollup_raw(spark.read.parquet(f"{td}/tok"), "1m",
                         with_digest=True)
        plan = t1m._jdf.queryExecution().executedPlan().toString()
        # the collect-path signature is sort_array(collect_list(<raw value>));
        # the partial path shows a MapInPandas stage before the shuffle (its
        # reduce still collect_lists the per-batch digest STRUCTS — that is
        # O(batches), not O(rows), and is fine)
        check("digest rollup is map-side partial (no raw collect_list)",
              "sort_array(collect_list" not in plan and "MapInPandas" in plan)

    # 11. quadratic detector kernels shuffle on the TIME-BOUNDED key: the
    #     grouped-map exchange must hash on (event_type, day), never
    #     event_type alone (that key grows m linearly with retention)
    plan = QUERIES["detect_knn"](spark, SF)._jdf.queryExecution(
    ).executedPlan().toString()
    # the grouped-map exchange (the one feeding FlatMapGroupsInPandas) must
    # hash on day; the upstream 1m-rollup exchange hashes on the window
    exch = [line for line in plan.splitlines()
            if "hashpartitioning" in line and "event_type" in line
            and _re.search(r"day#\d+", line)]
    check("detect_knn groups by (event_type, day)",
          bool(exch) and "FlatMapGroupsInPandas" in plan,
          exch[0].strip()[:100] if exch else "no (event_type, day) exchange")

    # 12. minhash engine path (xxhash64 default) has no Python eval — the
    #     whole signature/band pipeline is JVM expressions
    from tods_spark.operators import dedup as DD

    plan = DD.minhash_lsh_candidates(
        spark.read.parquet(f"{SF}/documents.parquet"), k=16, bands=8
    )._jdf.queryExecution().executedPlan().toString()
    check("minhash engine path is pure JVM (no BatchEvalPython)",
          "BatchEvalPython" not in plan and "xxhash64" in plan.lower())

    # 13. minhash SIGNATURE stage is a pure projection (round 4): no
    #     HashAggregate, no Generate (explode), and the only admissible
    #     Exchange is the small-input guard's REPARTITION_BY_NUM (a no-op
    #     at real scale where splits >> cores) — an ENSURE_REQUIREMENTS
    #     exchange would mean an aggregation shuffle crept back in
    sig_plan = DD.minhash_signatures(
        spark.read.parquet(f"{SF}/documents.parquet"), k=16
    )._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in sig_plan.splitlines() if "Exchange" in ln]
    check("minhash signature stage is shuffle-free (projection only)",
          "HashAggregate" not in sig_plan and "Generate" not in sig_plan
          and all("REPARTITION_BY_NUM" in ln for ln in exchanges))

    # 14. doc_repetition (Gopher repetition signals) is a pure projection:
    #     the n-gram stats run as sorted-array folds inside the scan stage —
    #     no Exchange, no Generate (explode), no aggregation, no Python
    rep_plan = QUERIES["doc_repetition"](spark, SF)._jdf.queryExecution().executedPlan().toString()
    check("doc_repetition is a shuffle-free projection",
          all(tok not in rep_plan
              for tok in ("Exchange", "Generate", "HashAggregate",
                          "BatchEvalPython")))

    # 15. pack_sequences is the two-phase prefix sum (round 5): the raw-scan
    #     running-sum window must partition by (source, _pb bucket) — never
    #     source alone — and the only source-alone window (the bucket-offset
    #     prefix scan) must sit above the HashAggregate that reduced the
    #     corpus to one row per bucket, under a BroadcastExchange
    pk_plan = QUERIES["pack_sequences_4k"](spark, SF)._jdf.queryExecution(
    ).executedPlan().toString()
    pk_lines = pk_plan.splitlines()
    bucketed = any("windowspecdefinition" in ln and "source" in ln
                   and "_pb" in ln for ln in pk_lines)
    src_only_ok = True
    for i, ln in enumerate(pk_lines):
        m = _re.search(r"windowspecdefinition\(([^)]*)\)", ln)
        if not m:
            continue
        pkeys = _window_partition_keys(m.group(1))
        if pkeys == ["source"]:
            sub = "\n".join(pk_lines[i:i + 15])
            src_only_ok = src_only_ok and "HashAggregate" in sub
    check("pack_sequences windows bucket the order key (no per-source sort "
          "of raw rows)", bucketed and src_only_ok)
    check("pack_sequences bucket offsets are broadcast",
          "BroadcastHashJoin" in pk_plan)

    # 16. stratified_sample is the two-phase top-k (round 5): the per-source
    #     rank runs over phase-1 survivors only (Filter on the salted local
    #     rank below it), and Spark's rank-limit pushdown additionally
    #     bounds every exchange input map-side (WindowGroupLimit Partial)
    ss_plan = QUERIES["stratified_sample_2"](spark, SF)._jdf.queryExecution(
    ).executedPlan().toString()
    check("stratified_sample per-source rank sees only salted-phase "
          "survivors",
          bool(_re.search(r"Filter \(_lrk#\d+ <= \d+\)", ss_plan))
          and "WindowGroupLimit" in ss_plan
          and ", Partial" in ss_plan)

    # 17. GLOBAL unbounded-key window scan (round 5): no registered query
    #     may plan a Window partitioned by a subset of {source} (incl. the
    #     empty global partition) unless its subtree shows the input is
    #     already cardinality-bounded — an aggregation (HashAggregate), a
    #     rank-limit pushdown (WindowGroupLimit), a top-k
    #     (TakeOrderedAndProject / Limit), or a local-rank filter. This is
    #     the class that produced both round-4 weak marks; the scan makes
    #     reintroducing one a hard audit failure.
    ALLOW = {
        # global CDF is the operator's semantics (percent_rank over the
        # full column) — a single total-order sort is inherent to
        # QuantileTransformer, documented in decompose.py
        "quantile_transform_value",
    }
    offenders: list[str] = []
    for qname, qfn in QUERIES.items():
        if qname in ALLOW:
            continue
        try:
            qplan = qfn(spark, SF)._jdf.queryExecution(
            ).executedPlan().toString()
        except Exception as e:  # a broken query is its own audit failure
            offenders.append(f"{qname} (plan error: {e})")
            continue
        qlines = qplan.splitlines()
        for i, ln in enumerate(qlines):
            m = _re.search(r"windowspecdefinition\(([^)]*)\)", ln)
            if not m:
                continue
            pkeys = _window_partition_keys(m.group(1))
            if set(pkeys) <= {"source"}:
                sub = "\n".join(qlines[i:i + 25])
                bounded = any(tok in sub for tok in (
                    "HashAggregate", "WindowGroupLimit",
                    "TakeOrderedAndProject", "GlobalLimit", "LocalLimit",
                )) or _re.search(r"Filter \(_lrk#\d+ <=", sub)
                if not bounded:
                    offenders.append(f"{qname} [{','.join(pkeys) or 'GLOBAL'}]")
    check("no registered query windows over an unbounded key "
          f"({len(QUERIES) - len(ALLOW)} plans scanned)",
          not offenders, "; ".join(offenders[:3]))

    # 18. corpus top-k plans as TakeOrderedAndProject (k rows per task,
    #     merged on the driver) — never a global Sort of the gram counts
    nk_plan = QUERIES["ngram_top20"](spark, SF)._jdf.queryExecution(
    ).executedPlan().toString()
    check("ngram_top20 global top-k is TakeOrderedAndProject (no global "
          "sort)",
          "TakeOrderedAndProject" in nk_plan
          and not _re.search(r"\bSort \[cnt", nk_plan))

    # 19. the dedup drop-list anti join stays a hash join (broadcast or
    #     shuffled) — a nested-loop anti join over the corpus would be the
    #     quadratic failure shape
    dk_plan = QUERIES["dedup_keep_corpus"](spark, SF)._jdf.queryExecution(
    ).executedPlan().toString()
    check("dedup_keep anti join is hash-based",
          bool(_re.search(r"(BroadcastHashJoin|ShuffledHashJoin|"
                          r"SortMergeJoin) .*LeftAnti", dk_plan)))

    # 20. unbounded-key as-of (round 6): every Window in the plan must
    #     (a) partition by the per-entity key (user_id — high-cardinality,
    #     bounded rows per key), never a calendar-unbounded subset, and
    #     (b) sit directly above the HashAggregate that reduced raw events
    #     to the tier — i.e. the raw side is never windowed; its only
    #     exchange is the final equi-join's hash partitioning
    au_plan = QUERIES["asof_enrich_user_1h"](spark, SF)._jdf.queryExecution(
    ).executedPlan().toString()
    au_lines = au_plan.splitlines()
    au_ok, au_n = True, 0
    for i, ln in enumerate(au_lines):
        m = _re.search(r"windowspecdefinition\(([^)]*)\)", ln)
        if not m:
            continue
        au_n += 1
        pkeys = _window_partition_keys(m.group(1))
        # the tier subtree under the window spans a join (exchanges,
        # possibly sorts) before the bounding HashAggregate — scan a
        # deeper slice than check 17's 25 lines
        sub = "\n".join(au_lines[i:i + 45])
        au_ok = au_ok and any("user_id" in k for k in pkeys) \
            and "HashAggregate" in sub
    check("asof_enrich_user windows only the aggregated tier keyed by "
          "user_id (raw side never windowed)", au_ok and au_n >= 1)

    # 21. the late-data refresh merges late digests from the same map-side
    #     partials: every collect_list in its executed plan collects
    #     (digest, cnt) state structs, none a raw value column
    with tempfile.TemporaryDirectory() as td:
        token_table(spark, 2000).write.parquet(f"{td}/tok")
        raw = spark.read.parquet(f"{td}/tok")
        doc_n = F.substring("doc_id", 5, 15).cast("long")
        tier = rollup_raw(raw.filter(doc_n % 7 != 0), "1m", with_digest=True)
        out = refresh_tier(tier, raw.filter(doc_n % 7 == 0), "1m")
        plan = out._jdf.queryExecution().executedPlan().toString()
        args = _re.findall(r"collect_list\(([^,]*)", plan)
        check("refresh collects no raw value column",
              bool(args) and all(a.startswith(("struct(", "named_struct("))
                                 for a in args),
              "; ".join(sorted(set(args)))[:120])

    # 22. the cascade leaves width to AQE: the digest rollup and the
    #     Gorilla pack hold no fixed-width (REPARTITION_BY_NUM) exchange,
    #     and the digest rollup's partial aggregate is printed below its
    #     exchange (combined map-side)
    raw = token_table(spark, 2000, partitions=3)
    final = {}
    digest = rollup_raw(raw, "1m", with_digest=True)
    for name, df in (("digest rollup", digest),
                     ("pack", pack_tier(rollup_raw(raw, "1m")))):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final[name] = plan.split("== Initial Plan ==")[0]
        check(f"{name} has no REPARTITION_BY_NUM exchange",
              "REPARTITION_BY_NUM" not in final[name])
    lines = final["digest rollup"].splitlines()
    exchange = next((i for i, ln in enumerate(lines) if "Exchange " in ln), -1)
    partial = next((i for i, ln in enumerate(lines) if "partial_" in ln), -1)
    check("digest rollup partial aggregate is below its exchange",
          0 <= exchange < partial, f"exchange line {exchange}, "
          f"partial line {partial}")

    bad = [n for n, ok in checks if not ok]
    print(f"\n{len(checks) - len(bad)}/{len(checks)} plan checks pass")
    if bad:
        sys.exit(1)


if __name__ == "__main__":
    main()
