"""The per-layer metric catalog: for each metric, its unit, which way is
better, and which end-to-end metric on which workload it should move.

``BENCHMARK.json`` lists these metrics by name, unit and direction only;
this file keeps the rest.  ``python3 perfbench/layers.py`` prints the
``per_layer`` list for ``BENCHMARK.json`` (a test checks the two agree);
``python3 perfbench/layers.py --moves`` prints the whole catalog.
"""

from __future__ import annotations

import json
import sys

SNAP = OPS = "export_and_queries"
CL, ALL = "changelog_apply", "all"
CODECS = ("json", "avro", "msgpack")
QUERIES = ("dedup_ngram_jaccard", "market_basket_rules",
           "cdc_snapshot_changelog_merge")
PLAN_FIELDS = {"wall_s": ("s", "lower"), "cpu_s": ("s", "lower"),
               "offcpu_s": ("s", "lower"), "gc_s": ("s", "lower"),
               "shuffle_bytes": ("bytes", "lower"),
               "stages": ("count", "lower"),
               "stages_skipped": ("count", "higher"),
               "tasks": ("count", "lower"),
               "driver_gap_s": ("s", "lower")}


def _catalog() -> list[tuple[str, str, str, str, str]]:
    """(name, unit, better, end-to-end metric it should move, workload)."""
    # wall times move the reported round.wall_s; work moves the gated
    # round_cpu_s
    wall, cpu, both = "round.wall_s", "round_cpu_s", "round_cpu_s, round.wall_s"
    c = [
        ("session.start_s", "s", "lower", "setup_s", ALL),
        ("round.wall_s", "s", "lower",
         "none (wall time of a round; reported, not gated)", ALL),
        ("session.jvm_peak_rss_mb", "MB", "lower",
         "none (reported only, not gated)", ALL),
        ("overhead.round_s", "s", "lower", "none (tracing cost)", ALL),
        ("overhead.round_cpu_s", "s", "lower", "none (tracing cost)", ALL),
    ]
    c += [(f"snapshot.{codec}.rows_per_s", "rows/s", "higher", wall, SNAP)
          for codec in CODECS]
    c += [
        ("snapshot.export_bytes_per_row", "bytes/row", "lower", both, SNAP),
        ("sources.snapshot_scan.cpu_s", "s", "lower", cpu, SNAP),
        ("jobs.run_snapshot_job.driver_gap_s", "s", "lower", wall, SNAP),
        ("jobs.range_partition.shuffle_write_bytes", "bytes", "lower", both,
         SNAP),
    ]
    for codec in CODECS:
        c += [(f"functions.encode_{codec}.wall_s", "s", "lower", wall, SNAP),
              (f"functions.encode_{codec}.cpu_s", "s", "lower", cpu, SNAP),
              (f"functions.encode_{codec}.offcpu_s", "s", "lower", wall,
               SNAP)]
    c += [
        ("sinks.write.wall_s", "s", "lower", wall, SNAP),
        ("sinks.write.output_bytes", "bytes", "lower", both, SNAP),
        ("sinks.write.files", "count", "lower", wall, SNAP),
        ("sinks.manifest.wall_s", "s", "lower", wall, SNAP),
        ("sinks.manifest.reread_ratio", "ratio", "lower", both, SNAP),
        ("changelog.events_per_s", "events/s", "higher", wall, CL),
        ("changelog.commit_p50_s", "s", "lower", wall, CL),
        ("changelog.commit_p75_s", "s", "lower", wall, CL),
        ("changelog.state_read_p50_s", "s", "lower", wall, CL),
        ("sources.changelog_read.cpu_s", "s", "lower", cpu, CL),
        ("operators.latest_state.cpu_s", "s", "lower", cpu, CL),
        ("operators.latest_state.shuffle_bytes", "bytes", "lower", both, CL),
    ]
    c += [(f"streaming.trigger.{phase}_ms", "ms", "lower", wall, CL)
          for phase in ("latestOffset", "getBatch", "queryPlanning",
                        "addBatch", "walCommit", "commitOffsets")]
    c += [
        ("streaming.batch.jobs", "count", "lower", both, CL),
        ("streaming.batch.tasks", "count", "lower", both, CL),
        ("streaming.state_rows_written_per_event", "rows/event", "lower",
         both, CL),
        ("streaming.state_bytes", "bytes", "lower",
         "round.wall_s (through changelog.state_read_p50_s)", CL),
    ]
    for q in QUERIES:
        for k, (unit, better) in PLAN_FIELDS.items():
            moves = cpu if k == "cpu_s" else (
                wall if unit == "s" else both)
            c.append((f"plans.{q}.{k}", unit, better, moves, OPS))
    return c


CATALOG = _catalog()


def per_layer() -> list[dict]:
    return [{"name": n, "unit": u, "better": b} for n, u, b, _, _ in CATALOG]


if __name__ == "__main__":
    if sys.argv[1:] == ["--moves"]:
        for name, unit, better, moves, workload in CATALOG:
            print(f"{name:48} {unit:10} {better:7} {workload:19} {moves}")
    else:
        print(json.dumps(per_layer(), indent=2))
