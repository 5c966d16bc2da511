#!/bin/bash
# Bench a few queries in isolation: graft.Bench on the compiled classes
# for a comma-separated query list. Usage:
#   tools/probe.sh <queries-csv> [repeat=4] [sfdir]
# Without sfdir, and without SPARK_GRAFT_CPUS, Bench's own defaults
# apply. SPARK_GRAFT_EXPLAIN=1 prints each query's plan.
export SPARK_GRAFT_ONLY="$1" SPARK_GRAFT_REPEAT="${2:-4}"
[ -n "$3" ] && export SPARK_GRAFT_SF_DIR="$3"
exec "$(dirname "$0")/launch.sh" graft.Bench
