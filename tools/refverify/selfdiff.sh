#!/bin/bash
# Kernel self-differential sweep. The reference binary is not in this tree,
# so a kernel change is checked against an earlier revision of the kernel
# instead: every FuzzCorpus round is dumped with graft.tools.RefDump at both
# revisions, with each given seed, and every .mine file must be
# byte-identical.
#
#   tools/refverify/selfdiff.sh <parent-rev> <seed>...
#
# <parent-rev> is checked out into a git worktree under $TMPDIR (default
# /tmp), built there, and removed on exit. The working tree is dumped as it
# stands, uncommitted changes included. The cjk round takes no seed, so it
# repeats its one catalog under every seed. Prints one line per seed and
# each differing file; exits 1 if any .mine file differs, 2 on a failed run.
set -euo pipefail
[ $# -ge 2 ] || { echo "usage: $0 <parent-rev> <seed>..." >&2; exit 2; }
REV=$1
shift
ROOT=$(cd "$(dirname "$0")/../.." && pwd)
WORK=$(mktemp -d "${TMPDIR:-/tmp}/selfdiff.XXXXXX")
cleanup() {
  git -C "$ROOT" worktree remove --force "$WORK/tree" >/dev/null 2>&1 || true
  git -C "$ROOT" worktree prune
  rm -rf "$WORK"
}
trap cleanup EXIT
git -C "$ROOT" worktree add --detach "$WORK/tree" "$REV" >/dev/null 2>&1

# offline builds, as the benchmark harness runs them; RefDump needs little heap
export COURSIER_MODE=${COURSIER_MODE:-offline}
case "${SBT_OPTS:-}" in *-Dsbt.offline*) ;; *) export SBT_OPTS="${SBT_OPTS:-} -Dsbt.offline=true" ;; esac
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-2g}

# the rounds of the parent's catalog, comma-separated
ROUNDS=$(sed -n 's/^ *new Round("\([a-z0-9]*\)".*/\1/p' \
  "$WORK/tree/src/main/scala/graft/fixtures/FuzzCorpus.scala" | paste -sd, -)
[ -n "$ROUNDS" ] || { echo "selfdiff: no rounds found in $REV's FuzzCorpus" >&2; exit 2; }

SEEDS=("$@")
dump() { # <source dir> <output dir>: one sbt session, one RefDump per seed
  local cmds=()
  for seed in "${SEEDS[@]}"; do cmds+=("runMain graft.tools.RefDump $2/s$seed $ROUNDS $seed"); done
  (cd "$1" && sbt --batch -Dsbt.log.noformat=true "${cmds[@]}") > "$2.log" 2>&1 \
    || { echo "selfdiff: dump in $1 failed" >&2; tail -20 "$2.log" >&2; exit 2; }
}
dump "$WORK/tree" "$WORK/parent"
dump "$ROOT" "$WORK/change"

status=0
for seed in "${SEEDS[@]}"; do
  same=0
  diff=0
  while IFS= read -r f; do
    rel=${f#"$WORK/parent/s$seed/"}
    if cmp -s "$f" "$WORK/change/s$seed/$rel"; then
      same=$((same + 1))
    else
      diff=$((diff + 1))
      echo "DIFF seed=$seed $rel"
    fi
  done < <(find "$WORK/parent/s$seed" -name '*.mine' | LC_ALL=C sort)
  extra=$(comm -13 <(cd "$WORK/parent/s$seed" && find . -name '*.mine' | LC_ALL=C sort) \
    <(cd "$WORK/change/s$seed" && find . -name '*.mine' | LC_ALL=C sort) | wc -l)
  echo "seed $seed: $same identical, $diff differ, $extra only in the working tree"
  if [ "$diff" -ne 0 ] || [ "$extra" -ne 0 ] || [ "$same" -eq 0 ]; then status=1; fi
done
exit $status
