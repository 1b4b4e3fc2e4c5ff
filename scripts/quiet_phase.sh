#!/bin/bash
# Round-6 quiet-phase measurement: gated bench anchor + gated scaling
# trials, run back-to-back with nothing else on the machine.
set -u
cd /root/repo

wait_load() {
  local thresh=$1 timeout=$2 t0=$SECONDS
  while :; do
    l=$(cut -d' ' -f1 /proc/loadavg)
    ok=$(python3 -c "print(1 if $l < $thresh else 0)")
    [ "$ok" = 1 ] && return 0
    [ $((SECONDS - t0)) -gt "$timeout" ] && return 1
    sleep 15
  done
}

echo "=== gated bench run (anchor) ==="
wait_load 1.5 1200 || echo "# bench gate timed out; running anyway (recorded)"
echo "# bench start load: $(cut -d' ' -f1 /proc/loadavg)"
PYTHONPATH=/root/repo python bench.py 2>/dev/null | tail -1 | tee /tmp/bench_gated.json

echo "=== gated pip trials (1.6B docs, 2v8) ==="
python scripts/scaling_gated.py 1600000000 pip 3 2 8 2 2>/dev/null

echo "=== quiet phase done ==="
