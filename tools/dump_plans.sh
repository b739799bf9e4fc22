#!/bin/bash
# Dump explain("formatted") per query into plans/<round>/<query>_<suffix>.txt
# Usage: tools/dump_plans.sh <repo_dir> <out_dir> <suffix> [query ...]  (none = all)
set -e
REPO="$1"; OUT="$2"; SUFFIX="$3"; shift 3
mkdir -p "$OUT"
RAW="$(mktemp "${TMPDIR:-/tmp}/plans_raw.XXXXXX")"
trap 'rm -f "$RAW" "$RAW.err"' EXIT
cd "$REPO"
# Spark's log goes to stderr; on failure show only the exception
sbt -batch "runMain graft.examples.ExplainPlans $*" 2>"$RAW.err" > "$RAW" ||
  { grep -m1 -A2 "Exception" "$RAW.err" >&2; exit 1; }
python3 - "$OUT" "$SUFFIX" "$RAW" <<'EOF'
import sys, re
out, suffix, raw = sys.argv[1], sys.argv[2], sys.argv[3]
cur, buf = None, []
def flush():
    if cur and buf:
        open(f"{out}/{cur}_{suffix}.txt", "w").write("".join(buf).strip() + "\n")
for line in open(raw):
    m = re.match(r"#{10} (\S+) #{10}", line)
    if m:
        flush(); cur, buf = m.group(1), []
    elif cur is not None and not line.startswith("[info]") and not line.startswith("[success]"):
        buf.append(line)
flush()
EOF
ls "$OUT" | grep "_$SUFFIX" | head -30
