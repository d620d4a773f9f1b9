"""Physical shuffle/spill telemetry for the whole bench roster.

Runs every non-streaming registered query at the given SF (noop sink),
then walks the AQE FINAL physical plan via the JVM bridge and sums the
SQL metrics that decide 100 TB viability:

- ``shuffle_bytes`` / ``shuffle_records``: bytes and rows written by
  every ShuffleExchange — THE scale currency; a query whose shuffle
  bytes track its input size has no map-side reduction and will move
  the whole corpus across the cluster.
- ``broadcast_bytes``: dataSize of every BroadcastExchange (must stay
  bounded — a growing broadcast is a future driver OOM).
- ``spill_bytes``: disk spill from any operator (sort/agg/join) — a
  non-zero spill at sf0.1 on a 128 GiB box means badly sized
  partitions at any real scale.
- ``n_shuffles`` / ``n_broadcasts``: exchange counts (plan shape).

ReusedExchange nodes are skipped (their metrics belong to the original
exchange; counting both would double-bill). Subquery plans (scalar
subquery broadcasts) are not traversed — their exchanges are small by
construction here; the per-query numbers are a round-over-round SERIES
(like calib_sec for host noise, BENCH_DETAIL streaming state rows for
watermark state): the diff is the signal, not the absolute value.

Writes SHUFFLE_AUDIT.json {query: {...}, _meta: {...}} and prints the
top movers. Usage: python tools/shuffle_audit.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "SHUFFLE_AUDIT.json")


def plan_metrics(df) -> dict[str, int]:
    """Sum shuffle/broadcast/spill metrics over the final physical plan."""
    plan = df._jdf.queryExecution().executedPlan()
    try:
        plan = plan.finalPhysicalPlan()
    except Exception:  # noqa: BLE001 — non-AQE plans have no final plan
        pass
    acc = {
        "shuffle_bytes": 0,
        "shuffle_records": 0,
        "broadcast_bytes": 0,
        "spill_bytes": 0,
        "n_shuffles": 0,
        "n_broadcasts": 0,
    }

    def walk(node):
        name = node.nodeName()
        if "ReusedExchange" in name:
            return
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        if name == "Exchange" or "ShuffleExchange" in name:
            acc["n_shuffles"] += 1
            acc["shuffle_bytes"] += vals.get("shuffleBytesWritten", 0)
            acc["shuffle_records"] += vals.get("shuffleRecordsWritten", 0)
        elif "BroadcastExchange" in name:
            acc["n_broadcasts"] += 1
            acc["broadcast_bytes"] += vals.get("dataSize", 0)
        acc["spill_bytes"] += vals.get("spillSize", 0)
        if "QueryStage" in name:
            walk(node.plan())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(plan)
    return acc


def main() -> None:
    from data_integration_and_visualization_uc3m_spark.session import get_spark
    from bench import BENCH_EXCLUDE
    import __spark_entry__ as E

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("shuffle-audit")
    qs = E.queries()
    names = [n for n in qs if n not in BENCH_EXCLUDE]
    # Subset mode: extra args name queries to (re-)audit; their rows
    # merge into the existing JSON so a full re-run isn't needed to
    # cover a few late additions (_meta totals are recomputed).
    only = set(sys.argv[2:])
    report: dict[str, dict[str, int]] = {}
    if only:
        all_names = set(names)
        names = [n for n in names if n in only]
        try:
            with open(OUT) as f:
                prior = json.load(f)
            prior.pop("_meta", None)
            # Drop prior rows for queries no longer in the registry
            # (renamed/retired) so recomputed _meta totals never count
            # stale entries (ADVICE r12).
            report.update(
                {n: v for n, v in prior.items() if n in all_names}
            )
        except (FileNotFoundError, json.JSONDecodeError):
            pass
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            report[name] = plan_metrics(df)
        except Exception as ex:  # noqa: BLE001
            report[name] = {"error": str(ex)[:200]}
    meta = {
        "sf_dir": sf_dir,
        "n_queries": len(report),
        "total_shuffle_bytes": sum(
            r.get("shuffle_bytes", 0) for r in report.values()
        ),
        "total_spill_bytes": sum(
            r.get("spill_bytes", 0) for r in report.values()
        ),
        "queries_with_spill": sorted(
            n for n, r in report.items() if r.get("spill_bytes", 0) > 0
        ),
    }
    out = dict(sorted(report.items()))
    out["_meta"] = meta
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    top = sorted(
        ((r.get("shuffle_bytes", 0), n) for n, r in report.items()),
        reverse=True,
    )[:10]
    print(f"shuffle audit over {len(report)} queries @ {sf_dir}")
    print(f"total shuffle: {meta['total_shuffle_bytes']:,} bytes; "
          f"spill: {meta['total_spill_bytes']:,} bytes "
          f"({len(meta['queries_with_spill'])} queries spill)")
    for b, n in top:
        print(f"  {b:>14,}  {n}")


if __name__ == "__main__":
    main()
