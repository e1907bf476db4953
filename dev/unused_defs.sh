#!/bin/sh
# Dead public code check: list each name defined with `def` in src/main
# that src/main mentions nowhere but in its definitions (comment lines
# and trailing `//` comments stripped), and exit 1 if one is not on the
# allowlist. The compiler's -Wunused only sees dead PRIVATE code.
#
# Allowlisted: the Aggregator overrides Spark calls (bufferEncoder,
# finish, outputEncoder), the mains, and Streaming.watermarkDropLedger,
# the only reader of the s06 drop ledger (StreamingSpec asserts on it).
#
# Usage: dev/unused_defs.sh    (dev/hooks/pre-commit runs it)
ALLOW="bufferEncoder finish main outputEncoder watermarkDropLedger"

cd "$(dirname "$0")/.." || exit 2
src=$(mktemp) || exit 2
trap 'rm -f "$src"' EXIT
find src/main -name '*.scala' -exec cat {} + \
  | grep -vE '^\s*(\*|/\*|//)' | sed -E 's#\s//.*$##' > "$src"
dead=""
for n in $(grep -oE '\bdef\s+\w+' "$src" | awk '{print $2}' | sort -u); do
  uses=$(grep -wo "$n" "$src" | wc -l)
  defs=$(grep -wE "def\s+$n" "$src" | wc -l)
  [ "$uses" -le "$defs" ] || continue
  case " $ALLOW " in *" $n "*) ;; *) dead="$dead $n" ;; esac
done
if [ -n "$dead" ]; then
  echo "defined in src/main, called nowhere in src/main:$dead" >&2
  exit 1
fi
