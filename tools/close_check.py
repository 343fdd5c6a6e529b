#!/usr/bin/env python3
"""Round-close registry receipts (r9 verdict demand #8, made permanent).

Checks, in order:
  1. Duplicate-key Counter cross-check: every q_ name in SparkEntry.scala
     appears EXACTLY twice (query entry + oracle twin). Scala Map
     literals keep the LAST duplicate key silently — this catch found
     one dead-shadowed gate in r9 and prevented three more.
  2. Registry-vs-verify set match: if a verify output dir is given, the
     parquet dumps there (plus oracle_sql.json keys) must equal the
     registry exactly — no gate silently skipped or orphaned.
  3. Bench-exclusion sanity: every name in Bench.scala's notQueries set
     must exist in the registry (a typo there silently benches a
     fixture gate).
  4. Orphan-operator check (r10 verdict demand #6): every public `def`
     in graft/operators/*.scala must be referenced from SparkEntry (a
     registry gate) or from a spec under src/test — the registry has
     grown across 11 rounds and nothing else proves a refactor didn't
     silently strand an operator without its gate.
  5. One read path for table files: no `read.parquet` of a
     `<dir>/<table>.parquet` literal under src/main outside Tables.scala.
     `graft.Tables.read` supplies the recorded schema (no inference job
     per load) and its drift check; a raw read bypasses both. Files in
     TABLE_READ_ALLOWED must say why they read raw.
  6. One session factory: no `SparkSession.builder(` under src/main
     outside Sessions.scala. `graft.Sessions.build(cpus, extra)` carries
     every conf the engine needs (extensions, UTC, non-ANSI, artifact
     isolation off, heartbeat/network timeouts, NioLocalFileSystem);
     a hand-built session silently drifts from it.
  7. One snapshot-log codec: no `"snapshot_id":` literal under src/main
     outside pipeline/LakeMeta.scala. `LakeMeta.LogEntry` is the one
     formatter and parser of the lake's snapshot log; a second
     hand-written line format or regex scanner drifts from it.
  8. One lake listing: no `"basePath"` literal and no `ParquetTable(`
     under src/main outside pipeline/LakeMeta.scala. Both lake read
     surfaces plan from `LakeMeta.TableState`'s own file listing (its
     `relation` for the facade, its `parquetTable` for V2); a read
     handed paths under a `basePath` goes back through Spark's path
     resolution and directory listing.

Usage: python3 tools/close_check.py [verify_out_dir]
Exit 0 = all green; prints a receipt line per check.
"""
import json
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(REPO, "src/main/scala/graft/SparkEntry.scala")
BENCH = os.path.join(REPO, "src/main/scala/graft/Bench.scala")

fail = 0

# 1. Counter cross-check
src = open(ENTRY).read()
counts = Counter(re.findall(r'"(q_[a-z0-9_]+)"', src))
bad = {k: v for k, v in counts.items() if v != 2}
if bad:
    print(f"FAIL counter-cross-check: names not appearing exactly twice: {bad}")
    fail = 1
else:
    print(f"PASS counter-cross-check: {len(counts)} gates, each exactly "
          "twice (query + oracle)")

# 2. verify-dir set match (optional arg)
if len(sys.argv) > 1:
    vdir = sys.argv[1]
    dumped = {d.removesuffix(".parquet") for d in os.listdir(vdir)
              if d.startswith("q_")}
    osql = json.load(open(os.path.join(vdir, "oracle_sql.json")))
    reg = set(counts)
    for label, got in [("verify dumps", dumped), ("oracle_sql.json", set(osql))]:
        missing = reg - got
        extra = got - reg
        if missing or extra:
            print(f"FAIL {label} vs registry: missing={sorted(missing)[:5]} "
                  f"extra={sorted(extra)[:5]}")
            fail = 1
        else:
            print(f"PASS {label}: exact set match with the {len(reg)}-gate registry")

# 3. bench exclusions exist. The Set literal is extracted by PAREN
#    MATCHING, not a non-greedy regex: a `)` ending a comment line
#    inside the set silently truncated the old regex capture (r11
#    found it validating only 15 of 18 entries).
bsrc = open(BENCH).read()
start = bsrc.find("notQueries = Set(")
if start < 0:
    print("FAIL bench-exclusions: notQueries set not found")
    fail = 1
else:
    j = bsrc.index("(", start)
    depth, k = 0, j
    for k in range(j, len(bsrc)):
        if bsrc[k] == "(":
            depth += 1
        elif bsrc[k] == ")":
            depth -= 1
            if depth == 0:
                break
    excl = set(re.findall(r'"(q_[a-z0-9_]+)"', bsrc[j:k]))
    ghosts = excl - set(counts)
    if ghosts:
        print(f"FAIL bench-exclusions: not in registry: {sorted(ghosts)}")
        fail = 1
    else:
        print(f"PASS bench-exclusions: all {len(excl)} fixture gates exist "
              "in the registry")

    # 3b. Exclusion-receipt table (r14 verdict Next #7): every excluded
    #     gate must carry a one-line justification in BASELINE.md's
    #     "Bench-exclusion receipts" table, and the table must not list
    #     gates that are no longer excluded — the exclusion list cannot
    #     silently grow (or rot) without a receipt.
    baseline = open(os.path.join(REPO, "BASELINE.md")).read()
    mark = "### Bench-exclusion receipts"
    if mark not in baseline:
        print("FAIL bench-exclusion-receipts: table missing from BASELINE.md")
        fail = 1
    else:
        sect = baseline.split(mark, 1)[1]
        nxt = sect.find("\n## ")
        nxt2 = sect.find("\n### ")
        end = min(x for x in (nxt, nxt2, len(sect)) if x >= 0)
        receipts = {m for m in re.findall(r"^\| (q_[a-z0-9_]+) \|",
                                          sect[:end], re.M)}
        missing = excl - receipts
        stale = receipts - excl
        if missing or stale:
            print(f"FAIL bench-exclusion-receipts: missing={sorted(missing)} "
                  f"stale={sorted(stale)}")
            fail = 1
        else:
            print(f"PASS bench-exclusion-receipts: {len(receipts)} receipt "
                  "lines, exact match with notQueries")

# 4. orphan-operator check: public defs in operators/ must be reachable
#    from a gate (SparkEntry) or a spec (src/test). Names referenced
#    only from other main-source files (e.g. ScaleSmoke) do NOT count —
#    the point is gate/spec coverage, not mere call-graph liveness.
import glob

op_files = sorted(glob.glob(os.path.join(REPO, "src/main/scala/graft/operators/*.scala")))
test_src = "\n".join(open(f).read() for f in glob.glob(
    os.path.join(REPO, "src/test/scala/**/*.scala"), recursive=True))
entry_src = src  # SparkEntry.scala, already read

# Split each operators file into top-level def blocks (a block runs
# from one exactly-2-space-indented `def` line to the next), so that a
# public def counts as covered when a gate/spec references it DIRECTLY
# or references a public def whose block calls it (transitive closure —
# the composable API under gate wrappers, e.g. asOfJoin under the
# as-of view gates, stays covered without a redundant re-export gate).
# Only exactly-2-space defs are members; deeper indents are local
# helpers, used in place by construction.
blocks = {}   # (file, name) -> body text
order = []
for f in op_files:
    base = os.path.basename(f)
    cur = None
    for line in open(f):
        m = re.match(r"  (?:final\s+)?(?:override\s+)?def\s+(\w+)", line)
        if m:
            cur = (base, m.group(1), "private" in line.split("def")[0])
            blocks[cur] = []
            order.append(cur)
        if cur is not None:
            blocks[cur].append(line)
bodies = {k: "".join(v) for k, v in blocks.items()}
public = [k for k in order if not k[2]]
covered = set()
for k in order:
    pat = re.compile(r"\b" + re.escape(k[1]) + r"\b")
    if pat.search(entry_src) or pat.search(test_src):
        covered.add(k)
changed = True
while changed:
    changed = False
    for k in order:
        if k in covered:
            continue
        pat = re.compile(r"\b" + re.escape(k[1]) + r"\b")
        if any(pat.search(bodies[c]) for c in covered if c[0] == k[0] or True):
            covered.add(k)
            changed = True
orphans = [f"{k[0]}:{k[1]}" for k in public if k not in covered]
if orphans:
    print(f"FAIL orphan-operators: public defs with no gate/spec reference "
          f"(direct or via a covered caller): {orphans}")
    fail = 1
else:
    print(f"PASS orphan-operators: all {len(public)} public operator defs "
          "reachable from a gate or spec")

# 5. table reads go through graft.Tables
TABLE_READ = re.compile(
    r"\bread\b(?:\s*\.\s*(?:option|options|schema|format)\((?:[^()]|\([^()]*\))*\))*"
    r"\s*\.\s*parquet\(\s*s?\"[^\"]*/[^\"/]*\.parquet\"\s*\)")
TABLE_READ_ALLOWED = {
    "src/main/scala/graft/ScaledData.scala":
        "offline generator: copies each table with its on-disk types, "
        "before any query reads it",
}
raw_reads = []
for f in sorted(glob.glob(os.path.join(REPO, "src/main/scala/**/*.scala"),
                          recursive=True)):
    rel = os.path.relpath(f, REPO)
    if rel == "src/main/scala/graft/Tables.scala" or rel in TABLE_READ_ALLOWED:
        continue
    text = open(f).read()
    raw_reads += [f"{rel}:{text.count(chr(10), 0, m.start()) + 1}"
                  for m in TABLE_READ.finditer(text)]
if raw_reads:
    print(f"FAIL table-read-path: raw read.parquet of a table file outside "
          f"Tables.scala (use graft.Tables.read / load): {raw_reads}")
    fail = 1
else:
    print(f"PASS table-read-path: table files are read only through "
          f"graft.Tables ({len(TABLE_READ_ALLOWED)} allowlisted file)")

# 6. sessions are built only by graft.Sessions
SESSIONS = "src/main/scala/graft/Sessions.scala"
builders = []
for f in sorted(glob.glob(os.path.join(REPO, "src/main/scala/**/*.scala"),
                          recursive=True)):
    rel = os.path.relpath(f, REPO)
    if rel == SESSIONS:
        continue
    text = open(f).read()
    builders += [f"{rel}:{text.count(chr(10), 0, m.start()) + 1}"
                 for m in re.finditer(r"SparkSession\s*\.\s*builder\(", text)]
if builders:
    print(f"FAIL session-factory: SparkSession.builder( outside Sessions.scala "
          f"(use graft.Sessions.build(cpus, extra)): {builders}")
    fail = 1
else:
    print("PASS session-factory: sessions under src/main are built only by "
          "graft.Sessions.build")

# 7. the snapshot log is formatted and parsed only in LakeMeta
LAKE_META = "src/main/scala/graft/pipeline/LakeMeta.scala"
log_literals = []
for f in sorted(glob.glob(os.path.join(REPO, "src/main/scala/**/*.scala"),
                          recursive=True)):
    rel = os.path.relpath(f, REPO)
    if rel == LAKE_META:
        continue
    text = open(f).read()
    log_literals += [f"{rel}:{text.count(chr(10), 0, m.start()) + 1}"
                     for m in re.finditer(r'"snapshot_id":', text)]
if log_literals:
    print(f"FAIL lake-log-format: snapshot-log literal outside LakeMeta.scala "
          f"(format and parse lines with LakeMeta.LogEntry): {log_literals}")
    fail = 1
else:
    print("PASS lake-log-format: the snapshot log is formatted and parsed only "
          "in LakeMeta.scala")

# 8. lake reads plan from the table state's own listing, in LakeMeta
listing_sites = []
for f in sorted(glob.glob(os.path.join(REPO, "src/main/scala/**/*.scala"),
                          recursive=True)):
    rel = os.path.relpath(f, REPO)
    if rel == LAKE_META:
        continue
    text = open(f).read()
    listing_sites += [f"{rel}:{text.count(chr(10), 0, m.start()) + 1}"
                      for m in re.finditer(r'"basePath"|\bParquetTable\(', text)]
if listing_sites:
    print(f"FAIL lake-listing: a basePath read or a ParquetTable outside "
          f"LakeMeta.scala (plan lake reads from TableState.relation / "
          f"parquetTable): {listing_sites}")
    fail = 1
else:
    print("PASS lake-listing: lake reads plan only from LakeMeta's table-state "
          "listing")

sys.exit(fail)
