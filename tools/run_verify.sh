#!/bin/bash
# Run graft.Verify directly on the compiled classes (avoids sbt lock
# contention with a concurrently-running test suite). Usage:
#   tools/run_verify.sh <sfdir> <outdir> [query names...]
exec "$(dirname "$0")/launch.sh" graft.Verify "$@"
