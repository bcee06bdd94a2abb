#!/usr/bin/env bash
# One-command live-PG conformance run (VERDICT r7 #7): scripted server
# up → full livepg suite → teardown, transcript committed under docs/.
#
# Usage:  scripts/livepg_run.sh [LABEL]      # default: UTC timestamp
#         make livepg                        # same, LABEL=$(LIVEPG_LABEL)
set -uo pipefail

cd "$(dirname "$0")/.."
LABEL=${1:-$(date -u +%Y%m%dT%H%M%S)}
PGDATA=${PGDATA:-/tmp/pg15_live}
OUT="docs/LIVEPG_transcript_${LABEL}.txt"

ENVS=$(bash scripts/livepg_server.sh "$PGDATA") || {
  echo "livepg server failed to start" >&2; exit 1; }
eval "$ENVS"

{
  echo "# live-PG conformance transcript — ${LABEL}"
  echo "# HEAD: $(git describe --always --dirty)"
  echo "# server: $(/usr/lib/postgresql/15/bin/postgres --version)"
  python -m pytest tests/test_live_pg.py -m livepg -q -rs 2>&1
  echo "# exit: $?"
} | tee "$OUT"

# teardown: stop the postmaster and drop the throwaway datadir
# (cd / so su-postgres doesn't warn about an unreadable cwd)
if [ "$(id -u)" = 0 ]; then
  (cd / && su postgres -c "/usr/lib/postgresql/15/bin/pg_ctl -D $PGDATA stop -m fast") || true
else
  /usr/lib/postgresql/15/bin/pg_ctl -D "$PGDATA" stop -m fast || true
fi
rm -rf "$PGDATA"
echo "transcript: $OUT"
