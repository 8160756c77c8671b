#!/usr/bin/env python3
"""Refresh tools/bench_steady_ref.json from the last bench artifact.

Bench writes its full JSON line to tools/bench_last_c<cpus>.json
(stdout is the driver contract but has been observed truncated in
capture; the artifact is per-cpus since round 10 so a low-core
verification run cannot clobber the primary run's map). This tool
derives the prior-steady reference from it in one step:

    python3 tools/refresh_steady_ref.py [bench_last_c32.json] [bench_steady_ref.json]

Bench parses the reference as JSON, compact or pretty-printed
(BenchPolicy.steadyRef), and honors it only when its "sf" field equals
the bench's sf directory.
"""
import json
import sys


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "tools/bench_last_c32.json"
    dst = sys.argv[2] if len(sys.argv) > 2 else "tools/bench_steady_ref.json"
    with open(src) as f:
        bench = json.load(f)
    steady = bench.get("queries_steady") or bench.get("queries")
    if not steady:
        print(f"no queries_steady/queries in {src}", file=sys.stderr)
        return 1
    if bench.get("degraded_host"):
        print("refusing: degraded_host=true — re-take the numbers first",
              file=sys.stderr)
        return 1
    ref = {"sf": bench["sf"]}
    ref.update({k: round(v, 3) for k, v in sorted(steady.items())})
    with open(dst, "w") as f:
        json.dump(ref, f, separators=(",", ":"))
        f.write("\n")
    print(f"{dst}: {len(steady)} queries @ {bench['sf']}"
          + (f", flags={bench['flags']}" if bench.get("flags") else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
