#!/bin/sh
# CI-style packaging proof: publish the library locally, then build
# and run the standalone consumer project against the published jar.
# The consumer's session is built without graft's SQL extension, so
# this is the check that library calls register the native functions
# themselves. Resolution is offline, with the same COURSIER_MODE and
# SBT_OPTS defaults as the Tier-1 command in ROADMAP.md.
# Run from the repo root: sh tools/consumer_check.sh
set -e
cd "$(dirname "$0")/.."
export COURSIER_MODE=offline SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
sbt -batch publishLocal
cd tools/consumer
sbt -batch run | tee /tmp/graft_consumer.log
grep -q CONSUMER_OK /tmp/graft_consumer.log && echo "consumer check: OK"
