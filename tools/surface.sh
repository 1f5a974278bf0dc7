#!/usr/bin/env bash
# Size and reach of the engine's main sources: a report, not a gate.
#
#   tools/surface.sh            (run from the repo root)
#
# Prints src/main's `wc -l` total, its code lines (ROADMAP's rule: lines
# that are neither blank nor comment-only), and its file count. Then lists
# every public `def` in src/main whose name appears in no file of src/main,
# perfbench/ or tools/ outside its own definition and comment lines: defs
# only the tests reach. A name counts as used if any word on a code line
# of those files equals it, so a def shadowed by a same-named one
# elsewhere is not listed.
set -euo pipefail
export LC_ALL=C
cd "$(dirname "$0")/.."

mapfile -t main < <(find src/main -name '*.scala' | sort)
echo "src/main lines: $(cat "${main[@]}" | wc -l)"
echo "src/main code lines: $(cat "${main[@]}" | grep -vcE '^\s*(//|\*|/\*\*|\*/)|^\s*$')"
echo "src/main files: ${#main[@]}"

mapfile -t reach < <(find src/main perfbench tools -type f \
  \( -name '*.scala' -o -name '*.py' -o -name '*.sh' \) -not -path '*/target/*' | sort)
echo "public src/main defs that no src/main, perfbench/ or tools/ file uses:"
# names with no use: a word's count over the reach set's non-comment
# lines, minus one per `def <name>` there
unused() {
  local code; code=$(cat "${reach[@]}" | grep -vE '^\s*(//|\*|/\*\*|\*/|#)')
  { grep -oE '[A-Za-z_][A-Za-z0-9_]*' <<<"$code" | sort | uniq -c
    grep -oE '\bdef [A-Za-z_][A-Za-z0-9_]*' <<<"$code" | cut -d' ' -f2 \
      | sort | uniq -c | awk '{print -$1, $2}'
  } | awk '{n[$2] += $1} END {for (w in n) if (n[w] <= 0) print w}' | sort
}
# a line that starts with `def` carries no access modifier: public
grep -nE '^\s*((final|implicit) )*def [A-Za-z_][A-Za-z0-9_]*' "${main[@]}" \
  | sed -E 's/^([^:]*:[0-9]+):.*\bdef ([A-Za-z_][A-Za-z0-9_]*).*/\2 \1/' \
  | sort -k1,1 | join - <(unused) \
  | awk '{print "  " $2 "  " $1}' | sort -t: -k1,1 -k2,2n
