"""Per-query shuffle audit: measured bytes over every exchange.

Runs each headline query at $SPARK_GRAFT_SF_DIR (default sf0.1),
executes it, and reads the SQLMetrics off the final adaptive plan
(plans/metrics.py). The table answers, with numbers instead of plan
shapes: how many exchanges ran, how many BYTES crossed them, how big
the broadcasts were, and the shuffle-bytes-per-scanned-row ratio —
the quantity that decides 100x survival (a ratio that is a small
constant scales; one proportional to the corpus does not).

Usage: python scripts/shuffle_audit.py   # rewrites the SCALE.md section
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as contract
import bench
from glamira_batch_processing_spark import get_spark
from glamira_batch_processing_spark.plans.metrics import exchange_summary

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MARK_BEGIN = "<!-- shuffle-audit:begin -->"
MARK_END = "<!-- shuffle-audit:end -->"


def fmt_bytes(b: int) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if b < 1024 or unit == "GB":
            return f"{b:.0f} {unit}" if unit == "B" else f"{b:.1f} {unit}"
        b /= 1024.0
    return f"{b} B"


def main() -> None:
    spark = get_spark("glamira-shuffle-audit")
    qs = contract.queries()
    rows = []
    # headline + every current gate-window query (round 9: the window
    # rotates, so derive the list) + the coded-layout lifecycle.
    audited = list(
        dict.fromkeys(
            bench.HEADLINE
            + contract._PRIORITY
            + ["q1_coded_layout", "ann_index_persist", "split_leakage_safe"]
        )
    )
    for name in audited:
        if name not in qs:
            continue
        df = qs[name](spark, SF_DIR)
        df.collect()
        s = exchange_summary(df)
        per_row = s["shuffle_bytes"] / s["scan_rows"] if s["scan_rows"] else 0.0
        rows.append((name, s, per_row))
        print(
            f"{name}: {s['n_shuffles']} shuffles {fmt_bytes(s['shuffle_bytes'])} "
            f"({s['shuffle_records']} rec), {s['n_broadcasts']} bcast "
            f"{fmt_bytes(s['broadcast_payload_bytes'])} "
            f"(alloc {fmt_bytes(s['broadcast_alloc_bytes'])}), {s['scan_rows']} scanned, "
            f"{per_row:.2f} B/row"
        )
    rows.sort(key=lambda r: -r[1]["shuffle_bytes"])

    lines = [
        MARK_BEGIN,
        "",
        "## Measured shuffle audit (sf0.1)",
        "",
        "Generated by `scripts/shuffle_audit.py` from the SQLMetrics of each",
        "query's final ADAPTIVE plan (one execution per query, so cells are",
        "exact counters, not timings — contention-immune). `B/row` =",
        "shuffle bytes per file-scanned row: a small CONSTANT survives a",
        "100x scale-up (shuffle grows linearly with the scan, bounded by",
        "network); a value that would grow with corpus size is a scale bug.",
        "Broadcasts are the small-dim sides — bounded by dimension size,",
        "not corpus size (the plan-shape tests pin WHICH sides broadcast).",
        "",
        "| query | shuffles | shuffled | records | B/row | bcasts | bcast payload | scanned rows |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, s, per_row in rows:
        lines.append(
            f"| {name} | {s['n_shuffles']} | {fmt_bytes(s['shuffle_bytes'])} "
            f"| {s['shuffle_records']} | {per_row:.2f} | {s['n_broadcasts']} "
            f"| {fmt_bytes(s['broadcast_payload_bytes'])} | {s['scan_rows']} |"
        )
    lines += ["", MARK_END]
    block = "\n".join(lines)

    scale_md = Path(__file__).resolve().parent.parent / "SCALE.md"
    text = scale_md.read_text()
    if MARK_BEGIN in text:
        pre = text[: text.index(MARK_BEGIN)]
        post = text[text.index(MARK_END) + len(MARK_END) :]
        text = pre + block + post
    else:
        text = text.rstrip() + "\n\n" + block + "\n"
    scale_md.write_text(text)
    print("updated SCALE.md shuffle-audit section")
    spark.stop()


if __name__ == "__main__":
    main()
