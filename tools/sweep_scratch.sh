#!/usr/bin/env bash
# Reclaim the engine's regenerable scratch state (the round-8/9 ENOSPC
# lesson: long scale runs die on DISK, and every byte below is derived,
# fingerprint-keyed state a later run rebuilds on demand).
#
#   sweep_scratch.sh            # report sizes only
#   sweep_scratch.sh --apply    # delete
#
# What it sweeps and why it is safe:
#   spark-warehouse/                  leftovers of earlier runs only:
#                                     the engine no longer writes there
#   /tmp/graft_index_$USER/           IndexStore directories (bands, PQ
#                                     codes, CC labels, the source
#                                     round-trips' staged copies, the
#                                     bucketed twins of orders and
#                                     lineitem, generation logs) —
#                                     content-keyed, rebuilt on first read
#   /tmp/graft_data/sf*               gen_sf.py scale corpora — exactly
#                                     regenerated (deterministic, byte-
#                                     stable) by tools/gen_sf.py
#
# NOT swept: /root/testdata (driver-owned), anything inside the repo
# besides spark-warehouse.
set -euo pipefail
cd "$(dirname "$0")/.."

APPLY=${1:-}
targets=()
[ -d spark-warehouse ] && targets+=(spark-warehouse)
[ -d "/tmp/graft_index_$(id -un)" ] && targets+=("/tmp/graft_index_$(id -un)")
[ -d /tmp/graft_data ] && targets+=(/tmp/graft_data)

if [ ${#targets[@]} -eq 0 ]; then echo "nothing to sweep"; exit 0; fi
du -sh "${targets[@]}"
if [ "$APPLY" = "--apply" ]; then
  rm -rf "${targets[@]}"
  echo "swept."
else
  echo "(dry run — pass --apply to delete)"
fi
