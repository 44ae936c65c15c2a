#!/usr/bin/env python3
"""Machine check for the 2x bench criterion (dev tool, not part of the
engine), and the only implementation of the gate math. Reads the
full-precision bench artifact (bench.json) and the authoritative
baseline row embedded in BASELINE.md's `bench-gate` HTML comment, and
FAILS (exit 1) when any gated signal exceeds max_ratio * its baseline.

Gated signals are the frozen-membership subtotals `graft.Bench` writes
into the artifact, each with its member count `<name>_n` (reasoning in
BASELINE.md's "Per-query gate derivation", "Stream-cert gate
re-derivation", "stream18 freeze" and "batch187 freeze" sections):

  - batch187: the 187 batch rows of the round-15 driver artifact;
  - stream16 / stream18: the micro-batch stream-certification rows
    s7..s22 / s7..s24;
  - core82, core153, core158, core167, core192: the registry freezes.

Each is checked against `<name>_freeze_s` in the anchor. Bench decides
which rows belong to which subtotal; this gate only reads the fields. A
missing or short subtotal (`<name>_n` != its frozen size, e.g. a member
errored) FAILs: the subtotal is not comparable.

A signal above 0.9 * max_ratio of its baseline prints `warn` (early
warning before the gate trips) and leaves the exit code unchanged.

The overall per-query mean (the driver's own 2x-criterion headline),
the batch mean and the stream-certification mean (`stream_overhead_s`
over `stream_n`, every s<K> row with K >= 7) are printed as
informational lines so drift stays visible, but fail nothing: each
mixes populations with different floors.

Usage:
    python3 tools/bench_gate.py [bench.json] [BASELINE.md]
    python3 tools/bench_gate.py --poison 10 [bench.json] [BASELINE.md]

--poison N multiplies the measured values by N before checking -- the
self-test that proves the gate actually trips (BenchGateSpec asserts
exit 0 on the real artifact AND exit 1 under --poison 10).
"""
import json
import re
import sys
from pathlib import Path

GATED = (("batch187", 187), ("stream16", 16), ("stream18", 18),
         ("core82", 82), ("core153", 153), ("core158", 158),
         ("core167", 167), ("core192", 192))
WARN_FRAC = 0.9
ANCHOR_KEYS = ("max_ratio", "baseline_per_query_s", "stream_cert_per_row_s",
               *(f"{name}_freeze_s" for name, _ in GATED))


def parse_baseline(md_path: Path) -> dict:
    m = re.search(r"<!--\s*bench-gate:\s*(.*?)\s*-->", md_path.read_text())
    if not m:
        sys.exit(f"FAIL: no 'bench-gate' anchor comment in {md_path}")
    try:
        base = {k: float(v) for k, v in
                (kv.split("=", 1) for kv in m.group(1).split())}
    except ValueError:
        sys.exit(f"FAIL: malformed 'bench-gate' anchor in {md_path}: "
                 f"{m.group(1)!r}")
    missing = [k for k in ANCHOR_KEYS if k not in base]
    if missing:
        sys.exit(f"FAIL: 'bench-gate' anchor in {md_path} lacks "
                 f"{', '.join(missing)}")
    return base


def main() -> int:
    args = sys.argv[1:]
    poison = 1.0
    if args and args[0] == "--poison":
        poison = float(args[1])
        args = args[2:]
    bench_path = Path(args[0]) if args else Path(__file__).parent.parent / "bench.json"
    md_path = Path(args[1]) if len(args) > 1 else Path(__file__).parent.parent / "BASELINE.md"

    base = parse_baseline(md_path)
    ratio = base["max_ratio"]
    bench = json.loads(bench_path.read_text())
    if bench.get("errors"):
        print(f"FAIL: bench.json records query errors: {bench['errors']}")
        return 1

    # Rows SKIPPED by the rep-1 soft budget (ungated rows shed past
    # SPARK_GRAFT_REP1_BUDGET_S) report -1 without an error entry: they
    # are absent samples, not failures. Gated rows are never skipped; if
    # one goes missing anyway, its subtotal's _n check below fails.
    if bench.get("skipped"):
        print(f"info {len(bench['skipped'])} ungated rows skipped by the "
              f"rep-1 soft budget: {', '.join(bench['skipped'])}")
    missing = [k for k in ("stream_overhead_s", "stream_n") if k not in bench]
    if missing:
        print(f"FAIL: bench.json lacks {', '.join(missing)}")
        return 1
    n = sum(1 for v in bench["queries"].values() if v >= 0)
    n_stream = bench["stream_n"]
    if n - n_stream <= 0:
        print("FAIL: no batch queries in artifact")
        return 1

    def info(name: str, mean: float, key: str, note: str) -> None:
        mean *= poison
        print(f"info {name:<17} {mean:8.3f} s  ({mean / base[key]:.2f}x "
              f"the {base[key]} {note})")

    info("overall mean", bench["value"] / n, "baseline_per_query_s",
         "driver row; driver criterion 2x")
    info("batch mean", (bench["value"] - bench["stream_overhead_s"])
         / (n - n_stream), "baseline_per_query_s",
         "round-4 row; mix-sensitive, not gated -- batch187_total is")
    if n_stream > 0:
        info("stream-cert mean", bench["stream_overhead_s"] / n_stream,
             "stream_cert_per_row_s",
             "round-13 row; mix-sensitive, not gated -- stream16_total is")

    failures = []
    for name, size in GATED:
        total_k, n_k = f"{name}_total", f"{name}_n"
        if bench.get(n_k) != size or total_k not in bench:
            print(f"FAIL {n_k} = {bench.get(n_k)} != {size} -- subtotal "
                  "missing or not comparable")
            failures.append(n_k)
            continue
        measured = poison * bench[total_k]
        limit = ratio * base[f"{name}_freeze_s"]
        label = ("FAIL" if measured > limit
                 else "warn" if measured > WARN_FRAC * limit else "ok  ")
        print(f"{label} {total_k:<18} {measured:8.3f} s  "
              f"(limit {limit:.3f} = {ratio}x baseline)")
        if label == "FAIL":
            failures.append(total_k)

    if failures:
        print(f"\nbench gate: FAILED ({', '.join(failures)})")
        return 1
    print("\nbench gate: passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
