#!/usr/bin/env bash
# End-to-end workflow through REAL spark-submit (no sbt classpath): the
# north rule's "run via spark-submit ... at two cluster sizes" contract,
# exercised on the packaged jar at local[8] (N) and local[32] (4N).
#
#   1. sbt -batch package -> target/scala-2.13/*.jar
#   2. spark-submit graft.sources.JsonlGen  -> deterministic corpus
#   3. spark-submit graft.JsonlDedupCli at local[8]  (annotate + stage dir)
#   4. spark-submit graft.JsonlDedupCli at local[32] (same input, fresh out)
#   5. verify both runs annotate the identical (docid -> ranges) set and
#      report the input file count and wall times, plus the scaling
#      efficiency on >= 32 cores
#   6. rerun local[8] on the stage dir: no stage recomputed (same number
#      of metrics part files), output identical to the first run's, every
#      output line its input line's fields plus sa_remove_ranges
#   7. spark-submit graft.JsonlDedupCli --unit tokens --mode remove at
#      local[8]; every output file must hold as many lines as its input
#
# Usage: dev/spark_submit_e2e.sh [nDocs]   (default 5000)
set -euo pipefail
cd "$(dirname "$0")/.."

NDOCS="${1:-5000}"
WORK="${SPARK_SUBMIT_E2E_DIR:-/tmp/graft-submit-e2e}"
SUBMIT=/opt/spark/bin/spark-submit

sbt -batch package > "$WORK-package.log" 2>&1 || { tail -20 "$WORK-package.log"; exit 1; }
JAR=$(ls target/scala-2.13/*.jar | head -1)
echo "[e2e] jar: $JAR"

rm -rf "$WORK"; mkdir -p "$WORK"

run_submit() { # run_submit <master> <class> <args...>
  local master="$1" cls="$2"; shift 2
  "$SUBMIT" --master "$master" --class "$cls" \
    --conf spark.sql.shuffle.partitions=32 \
    --conf spark.ui.enabled=false \
    --driver-memory 8g \
    "$JAR" "$@"
}

echo "[e2e] generating $NDOCS docs via spark-submit"
run_submit "local[8]" graft.sources.JsonlGen "$WORK/in" "$NDOCS" 32 \
  > "$WORK/gen.log" 2>&1

echo "[e2e] dedup at local[8] (N cores)"
t0=$(python3 -c "import time; print(time.time())")
run_submit "local[8]" graft.JsonlDedupCli "$WORK/in" "$WORK/out8" \
  --minlen 500 --mode annotate --stage-dir "$WORK/stage8" \
  > "$WORK/run8.log" 2>&1
t8=$(python3 -c "import time; print(f'{time.time()-$t0:.1f}')")

echo "[e2e] dedup at local[32] (4N cores)"
t0=$(python3 -c "import time; print(time.time())")
run_submit "local[32]" graft.JsonlDedupCli "$WORK/in" "$WORK/out32" \
  --minlen 500 --mode annotate \
  > "$WORK/run32.log" 2>&1
t32=$(python3 -c "import time; print(f'{time.time()-$t0:.1f}')")

echo "[e2e] comparing annotations (docid -> sa_remove_ranges) between runs"
python3 - "$WORK/out8" "$WORK/out32" <<'EOF'
import gzip, json, sys, pathlib

def ranges(outdir):
    acc = {}
    for p in sorted(pathlib.Path(outdir).rglob("*.jsonl.gz")):
        with gzip.open(p, "rt") as f:
            for line in f:
                d = json.loads(line)
                r = d.get("sa_remove_ranges", [])
                if r:
                    acc[d["docid"]] = sorted((x["s"], x["e"]) for x in r)
    return acc

a, b = ranges(sys.argv[1]), ranges(sys.argv[2])
assert a == b, f"annotation mismatch: {len(a)} vs {len(b)} annotated docs"
assert a, "no annotated docs at all -- planted duplicates missing?"
print(f"[e2e] PASS: {len(a)} annotated docs identical across local[8] and local[32]")
EOF

echo "[e2e] resume check: re-run local[8] against the existing stage dir"
# Stage.run appends metrics part files only when it computes a stage, so a
# resumed run leaves their number unchanged
metric_parts() { find "$WORK/stage8/_metrics" -name 'part-*' | wc -l; }
parts_before=$(metric_parts)
run_submit "local[8]" graft.JsonlDedupCli "$WORK/in" "$WORK/out8b" \
  --minlen 500 --mode annotate --stage-dir "$WORK/stage8" \
  > "$WORK/run8b.log" 2>&1
parts_after=$(metric_parts)
# explicit if/else: under `set -euo pipefail` a bare `test && echo` list
# would abort the script silently when the check fails
if [ "$parts_before" -gt 0 ] && [ "$parts_before" -eq "$parts_after" ]; then
  echo "[e2e] resume PASS: stage snapshot reused ($parts_after metrics part files before and after)"
else
  echo "[e2e] resume FAILED: $parts_before metrics part files before the rerun, $parts_after after" >&2
  exit 1
fi

echo "[e2e] comparing the resumed output, and every field against its input line"
python3 - "$WORK/in" "$WORK/out8" "$WORK/out8b" <<'EOF'
import gzip, json, sys, pathlib

def docs(root):
    root = pathlib.Path(root)
    acc = {}
    for p in sorted(root.rglob("*.jsonl.gz")):
        with gzip.open(p, "rt") as f:
            acc[str(p.relative_to(root))] = [json.loads(line) for line in f]
    return acc

src, out, resumed = (docs(d) for d in sys.argv[1:4])
assert resumed == out, "the resumed run's output differs from the first run's"
assert src.keys() == out.keys(), "output files do not mirror the input tree"
for f, lines in src.items():
    assert len(out[f]) == len(lines), f"{f}: {len(out[f])} lines, want {len(lines)}"
    for i, (d, o) in enumerate(zip(lines, out[f])):
        assert list(o) == list(d) + ["sa_remove_ranges"], f"{f}:{i}: keys {list(o)}"
        assert all(o[k] == v for k, v in d.items()), f"{f}:{i}: a field changed"
n = sum(len(v) for v in src.values())
print(f"[e2e] PASS: resumed output identical; all {n} docs keep their input fields and values")
EOF

echo "[e2e] token-unit remove at local[8]"
run_submit "local[8]" graft.JsonlDedupCli "$WORK/in" "$WORK/out8tok" \
  --minlen 50 --mode remove --unit tokens \
  > "$WORK/run8tok.log" 2>&1
python3 - "$WORK/in" "$WORK/out8tok" <<'EOF'
import gzip, json, sys, pathlib

def scan(root):
    root = pathlib.Path(root)
    lines, tokens = {}, 0
    for p in sorted(root.rglob("*.jsonl.gz")):
        with gzip.open(p, "rt") as f:
            docs = [json.loads(line) for line in f]
        lines[str(p.relative_to(root))] = len(docs)
        tokens += sum(len(d["text"].split()) for d in docs)
    return lines, tokens

(a, ta), (b, tb) = scan(sys.argv[1]), scan(sys.argv[2])
assert a, "no input files"
assert a == b, f"line counts differ: {sorted(set(a.items()) ^ set(b.items()))[:5]}"
assert tb < ta, "token-unit remove cut nothing -- planted duplicates missing?"
print(f"[e2e] PASS: token-unit remove kept the line count of all {len(a)} files, "
      f"cut {ta - tb} of {ta} tokens")
EOF

# local[32] on fewer than 32 cores only measures oversubscription
cores=$(nproc)
if [ "$cores" -ge 32 ]; then
  eff=$(python3 -c "import sys; print(f'{float(sys.argv[1])/(4*float(sys.argv[2])):.3f}')" "$t8" "$t32")
  eff="naive 8->32 efficiency: $eff"
else
  eff="8->32 efficiency: not measured ($cores cores)"
fi
# one read task per input file: the file count bounds the read's parallelism
nfiles=$(find "$WORK/in" -type f ! -name '.*' | wc -l) # not the hidden .crc sidecars
echo "[e2e] input: $nfiles files  local[8]: ${t8}s  local[32]: ${t32}s  $eff"
echo "[e2e] DONE"
