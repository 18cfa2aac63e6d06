#!/usr/bin/env bash
# Preflight gate: run before ANY end-of-round / milestone commit.
# Round 9 shipped a snapshot that did not compile (a referenced class was
# never written), voiding the round's correctness and bench artifacts —
# this script makes "compile green before snapshot" mechanical.
#
# Usage: tools/preflight.sh [--test]
#   default : session/install, parquet reader, one-log, one-reader and
#             layout-kind guards +
#             sbt compile +
#             Test/compile (fast, the r9 failure class)
#   --test  : additionally runs the full ScalaTest suite
set -euo pipefail
cd "$(dirname "$0")/.."

# One session factory (graft.SparkSupport.session) and one engine install
# (graft.catalyst.GraftExtensions.install): a second builder or a revived
# per-call registration helper lets session conf and plans drift by caller.
echo "[preflight] session/install guard"
builders=$(grep -rn 'SparkSession\.builder' src/main \
  | grep -v '^src/main/scala/graft/SparkSupport\.scala:' || true)
helpers=$(grep -rnE '\bensureRegistered\(|\bensureOptimized\b|\bGraftOptimizations\b' \
  src || true)
if [[ -n "$builders$helpers" ]]; then
  [[ -n "$builders" ]] && echo "SparkSession.builder outside SparkSupport.session:" \
    && echo "$builders"
  [[ -n "$helpers" ]] && echo "per-call registration helper (use GraftExtensions.install):" \
    && echo "$helpers"
  exit 1
fi

# One untyped parquet reader (graft.Tables.parquet): a schema-less
# `.read[.option(..)].parquet(` elsewhere in src/main runs Spark's
# schema-inference job on every call, even over unchanged files.
echo "[preflight] parquet reader guard"
untyped=$(grep -rnE '\.read(\.options?\([^()]*\))*\.parquet\(' src/main \
  | grep -v '^src/main/scala/graft/Tables\.scala:' || true)
if [[ -n "$untyped" ]]; then
  echo "schema-less parquet read outside graft.Tables.parquet:"
  echo "$untyped"
  exit 1
fi

# One transaction log (TxLog commits the Delta `_delta_log` directly): a
# second on-disk log, or a revived export call, brings back two replayers
# that must agree and a window where Delta readers lag a commit.
echo "[preflight] one-log guard"
second_log=$(grep -rn '_graft_log' src || true)
exports=$(grep -rn 'exportLog(' src | grep -v 'def exportLog(' || true)
if [[ -n "$second_log$exports" ]]; then
  [[ -n "$second_log" ]] && echo "second transaction log (_graft_log):" \
    && echo "$second_log"
  [[ -n "$exports" ]] && echo "exportLog call in src/ (commits write _delta_log):" \
    && echo "$exports"
  exit 1
fi

# One reader for TxLog tables (DeltaBridge.buildDataFrame, reached through
# DeltaBridge.scanLive): a Spark read or a revived private entry reader in
# TxLog.scala brings back a second path from live adds to rows that can
# type or drop partition columns differently from DeltaBridge.read.
echo "[preflight] one-reader guard"
readers=$(grep -nE '\.read\.|readEntries' src/main/scala/graft/sources/TxLog.scala || true)
if [[ -n "$readers" ]]; then
  echo "read outside DeltaBridge.scanLive in TxLog.scala:"
  echo "$readers"
  exit 1
fi

# One build per layout kind, each with a build version: a kind is declared
# once as `graft.SparkSupport.Layout("<kind>", <version>)` beside the code
# that builds it, and that declaration is passed to exactly one
# `layoutArtifact(` call site. A kind declared or built twice lets two
# build paths race for one artifact key; a call site that passes a bare
# kind string declares no version, so changed build code would be served
# the bytes an older build left in the shared scratch dir.
echo "[preflight] layout kind guard"
twice=$(grep -rhoE 'Layout\("[A-Za-z0-9_]+"' src/main | sort | uniq -d || true)
reused=$(grep -rhoE 'layoutArtifact\([A-Za-z0-9_.]+,' src/main \
  | sed -E 's/.*[(.]([A-Za-z0-9_]+),$/\1/' | sort | uniq -d || true)
unversioned=$(grep -rnE 'layoutArtifact\(\s*s?"' src/main || true)
if [[ -n "$twice$reused$unversioned" ]]; then
  [[ -n "$twice" ]] && echo "layout kind declared more than once:" && echo "$twice"
  [[ -n "$reused" ]] && echo "layout declaration built at more than one call site:" \
    && echo "$reused"
  [[ -n "$unversioned" ]] && echo "layoutArtifact call site with no build version:" \
    && echo "$unversioned"
  exit 1
fi

echo "[preflight] sbt compile + Test/compile"
sbt -batch compile Test/compile

if [[ "${1:-}" == "--test" ]]; then
  echo "[preflight] sbt test"
  sbt -batch test
fi

echo "[preflight] OK"
