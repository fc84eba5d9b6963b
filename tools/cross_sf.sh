#!/usr/bin/env bash
# Cross-scale-factor differential: for each scale factor, dump every
# registered query with graft.Verify and compare it against the DuckDB
# oracle with tools/compare.py, then print one pass/fail count per scale
# factor. Reads only the local lake under $HOME/testdata (one directory
# per scale factor, e.g. $HOME/testdata/sf0.01).
#
#   tools/cross_sf.sh                 # sf0.001 sf0.01
#   tools/cross_sf.sh sf0.01 sf0.1    # sf0.1 is opt-in (slow)
#
# Per-query FAIL lines go to <out>/<sf>/compare.txt (out: $CROSS_SF_OUT,
# default /tmp/cross_sf). Exits non-zero when any scale factor has a
# failing query or a Verify run that did not finish.
set -u
cd "$(dirname "$0")/.."
out_root="${CROSS_SF_OUT:-/tmp/cross_sf}"
[ "$#" -gt 0 ] || set -- sf0.001 sf0.01
status=0
summary=()
for sf in "$@"; do
  lake="$HOME/testdata/$sf"
  out="$out_root/$sf"
  if [ ! -d "$lake" ]; then
    summary+=("$sf: no lake at $lake")
    status=1
    continue
  fi
  rm -rf "$out"
  mkdir -p "$out"
  if ! sbt -batch "runMain graft.Verify $lake $out/verify" > "$out/verify.log" 2>&1; then
    summary+=("$sf: graft.Verify failed (see $out/verify.log)")
    status=1
    continue
  fi
  python3 tools/compare.py "$out/verify" "$lake" > "$out/compare.txt" 2>&1 || status=1
  fails=$(grep '^FAIL ' "$out/compare.txt" | cut -d: -f1 | cut -c6- | tr '\n' ' ')
  summary+=("$sf: $(tail -n 1 "$out/compare.txt")${fails:+ — failing: $fails}")
done
printf '%s\n' "${summary[@]}"
exit "$status"
