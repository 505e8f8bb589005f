#!/usr/bin/env bash
# A/B mode for graftbench: runs one workload on two git revisions in
# alternating pairs and prints, per end-to-end metric of BENCHMARK.json,
# each side's median and quartiles and the number of pairs B wins.
#
# Usage: tools/graftbench_ab.sh <revA> <revB> <workload> <seed>...
#   (run from inside the repository; revA is the baseline, revB the change)
#
# Each revision is extracted with `git archive` into $AB_DIR/<short hash>
# (default ${TMPDIR:-/tmp}/graftbench_ab) and built once before the pairs.
# Pair i runs `python3 graftbench/run.py --workload <w> --seed <seed_i>
# --seconds $AB_SECONDS --trace 0` on both sides, A first on even pairs
# and B first on odd ones, so host drift does not favour one side. Each
# run's report is kept in $AB_DIR/results/<workload>/<A|B>-<seed>.out.
# To measure uncommitted changes, pass `$(git stash create)` as a revision.
set -euo pipefail
if [ "$#" -lt 4 ]; then
  sed -n '6,7p' "$0" | sed 's/^# //' >&2
  exit 2
fi
rev_a="$1"; rev_b="$2"; workload="$3"; shift 3
seeds=("$@")
ab_dir="${AB_DIR:-${TMPDIR:-/tmp}/graftbench_ab}"
seconds="${AB_SECONDS:-20}"
results="$ab_dir/results/$workload"
mkdir -p "$results"

checkout() {
  local hash dir
  hash="$(git rev-parse --short=12 "$1^{commit}")" || return 1
  dir="$ab_dir/$hash"
  if [ ! -f "$dir/BENCHMARK.json" ]; then
    rm -rf "$dir"; mkdir -p "$dir"
    git archive "$hash" | tar -x -C "$dir" || return 1
  fi
  (cd "$dir" && CARGO_TARGET_DIR="$dir/.bench_build" \
    bash graftbench/build.sh "$dir/.bench_build/graftbench/build") >&2 || return 1
  echo "$dir"
}
dir_a="$(checkout "$rev_a")"
dir_b="$(checkout "$rev_b")"
echo "A = $rev_a ($dir_a)" >&2
echo "B = $rev_b ($dir_b)" >&2

run_side() { # <side> <dir> <seed>
  local out="$results/$1-$3.out"
  if ! (cd "$2" && CARGO_TARGET_DIR="$2/.bench_build" python3 graftbench/run.py \
      --workload "$workload" --seed "$3" --seconds "$seconds" --trace 0) \
      > "$out" 2>&1; then
    echo "  $1 seed $3: run failed, see $out" >&2
  fi
  echo "  $1 seed $3: $(tail -n 1 "$out" | cut -c1-120)" >&2
}

i=0
for seed in "${seeds[@]}"; do
  echo "pair $((i + 1)) seed $seed" >&2
  if [ $((i % 2)) -eq 0 ]; then
    run_side A "$dir_a" "$seed"; run_side B "$dir_b" "$seed"
  else
    run_side B "$dir_b" "$seed"; run_side A "$dir_a" "$seed"
  fi
  i=$((i + 1))
done

python3 - "$dir_b/BENCHMARK.json" "$results" "${seeds[@]}" <<'EOF'
import json, statistics, sys

contract, results, seeds = sys.argv[1], sys.argv[2], sys.argv[3:]
metrics = json.load(open(contract))["end_to_end"]

def load(side, seed):
    try:
        with open(f"{results}/{side}-{seed}.out") as f:
            return json.loads(f.read().strip().splitlines()[-1])
    except (OSError, ValueError, IndexError):
        return None

runs = {s: (load("A", s), load("B", s)) for s in seeds}
pairs = [(a, b) for a, b in runs.values() if a and b]
print(f"pairs with both runs: {len(pairs)} of {len(seeds)}")
for side, k in (("A", 0), ("B", 1)):
    done = [p[k] for p in runs.values() if p[k]]
    print(f"{side}: {len(done)} runs, correct {sum(r['correct'] for r in done)}, "
          f"failed ops {sum(r['failed'] for r in done)} of {sum(r['attempted'] for r in done)}")

def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3

print(f"{'metric':30s} {'A median [q1, q3]':>28s} {'B median [q1, q3]':>28s} {'B/A':>6s} {'B wins':>7s}")
for m in metrics:
    name, lower = m["name"], m["better"] == "lower"
    xa = [a["metrics"][name]["value"] for a, _ in pairs]
    xb = [b["metrics"][name]["value"] for _, b in pairs]
    if not xa:
        continue
    wins = sum((vb < va) if lower else (vb > va) for va, vb in zip(xa, xb))
    qa, qb = quart(xa), quart(xb)
    ratio = qb[1] / qa[1] if qa[1] else float("nan")
    fa = f"{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
    fb = f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
    print(f"{name + ' (' + m['unit'] + ')':30s} {fa:>28s} {fb:>28s} {ratio:6.3f} {wins:>3d}/{len(pairs)}")
EOF
