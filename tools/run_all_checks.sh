#!/bin/bash
# One-command reproduction of every round gate, in order:
#   1. pytest suite (unit + golden + property + plan-audit + resume),
#      run as the ROADMAP tier-1 command
#   2. the KG-construction benchmark's own tests (kgbench/)
#   3. Spark-vs-DuckDB oracle parity at sf0.01 (the driver's gate)
# Optional slow extras (pass --full): sf0.001 oracle parity and the
# multi-executor scaling run (bench_scaling_cluster.py).
# Every step runs even when an earlier one fails, so one failing gate
# never hides the result of a later one; the script exits non-zero and
# names every failed step.
cd "$(dirname "$0")/.."

FAILED=()

step() {
    local name="$1"
    shift
    echo "== $name =="
    if ! "$@"; then
        echo "!! step failed: $name"
        FAILED+=("$name")
    fi
}

# the tier-1 command from ROADMAP.md: its time limit, and no .pytest_cache
step "pytest" env SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)" \
    SPARK_LOCAL_DIRS=/tmp/spark-local timeout -k 10 2670 \
    python -m pytest tests/ -q --continue-on-collection-errors \
    -p no:cacheprovider
step "kgbench tests" python3 -m pytest kgbench -q
step "oracle parity (sf0.01)" python tools/check_oracles.py /root/testdata/sf0.01

if [ "$1" = "--full" ]; then
    step "oracle parity (sf0.001)" \
        python tools/check_oracles.py /root/testdata/sf0.001
    step "scaling 1 vs 4 executors (local-cluster)" \
        python bench_scaling_cluster.py 32768 /tmp/scaling_lc.json 1 2
fi

if [ ${#FAILED[@]} -gt 0 ]; then
    echo "FAILED STEPS (${#FAILED[@]}):"
    printf '  - %s\n' "${FAILED[@]}"
    exit 1
fi
echo "ALL CHECKS PASSED"
