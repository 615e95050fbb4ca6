#!/usr/bin/env python3
"""Unreferenced-public-API check (r19 verdict item 7, optional).

The bruteForcePairs episode took two rounds to close: a public def in
src/main with no caller anywhere is either dead weight or an untested
contract, and nothing in the build surfaces it. This check does, cheaply:

  - collect every public `def` declared in src/main/scala/graft
    (skipping `private`/`protected`/`override`, locals inside methods are
    approximated away by requiring 2-space indent, i.e. top-level members
    of a top-level object/class/trait);
  - flag any whose NAME appears nowhere else in src/ (main or test)
    outside its own declaration line.

Name-based, so deliberately conservative: a flagged name has ZERO other
textual occurrences repo-wide — not a heuristic "probably unused", a
certainty that no code, test, or registry calls it by name. Common names
(apply, of, main) naturally have many occurrences and never flag.

Exceptions (documented reasons, kept short on purpose):
  - `entry`, `queries`, `oracleSql`, `benchQueries`, `twinOf`, `main`:
    driver-contract entry points invoked reflectively by the harness.

One session definition: `SparkSession.builder` may appear in src/main
only in core/GraftSession.scala. Every session the engine, Bench and
Verify run on is built there, so the conf Verify checks is the conf
Bench times and the library ships. Any other builder site is flagged.

One cache lifecycle: `.cache()`, `.persist(` and `.unpersist(` may
appear in src/main code only in core/Materialize.scala. Every operator
cache is taken in a `Materialize` scope, which releases it when the
scope exits (returning or throwing), so CacheHygieneSpec's empty
CacheManager holds by construction. Comments are not searched; any
other call site is flagged.

One streaming run lifecycle: `.writeStream`, `processAllAvailable(`
and `newSession(` may appear in src/main code only in
streaming/StreamRunner.scala. Every run-to-completion stream runs on
the gate session the runner clones (the caller's runtime SQL conf plus
the state-partition bound), is started, drained and stopped there, and
comes back emission-checked. Comments are not searched; any other
site is flagged.

One hash scheme: `conv(substring(md5(` and `'0x' || substr(md5(` may
appear in src/main code only in functions/Md5Prefix.scala. The engine's
48-bit md5-prefix hash has one definition there, in its Spark, DuckDB
and JVM forms, so the Spark operators and the DuckDB oracles that
replay them cannot drift apart. Comments are not searched; string
literals are, because the DuckDB form lives in them. Any other site is
flagged.

One superstep driver: `localCheckpoint(` may appear in src/main code
only in core/Superstep.scala (the per-round barrier of every iterative
operator) and core/Materialize.scala (`checkpointed`), plus three
single-barrier sites named in CHECKPOINT_SITES with their reasons.
A round loop that checkpoints its own state outside the driver would
fork the superstep policy (barrier, stop probe, non-convergence
failure) the driver owns. Comments are not searched; any other site is
flagged.

One query-run harness: `System.gc(` and `clearCache(` may appear in
src/main code only in core/QueryTrace.scala, and `addSparkListener(`
may appear anywhere under src/ (main or test) only there too. Every
timed run goes through `QueryTrace.timed` (pre-run hygiene, the wall
clock, the listener and its drain on a marker job), so Bench,
graft.Trace and the probes time the same thing under the same pre-run
state and count the same work. Comments are not searched; any other
site is flagged.

One tuning surface: `defaultParallelism`, `conf.get(` and
`conf.getOption(` may appear in src/main code only in
core/GraftSession.scala, whose `parallelism` is the engine's one
partition-count source. Operators read no session conf of their own,
so no conf string can crash one and no deploy-time knob hides in one.
The one exception, named in CONF_SITES with its reason, is a deployment
path rather than a tuning value. Comments are not searched; any other
site is flagged.

One table-read path: a parquet read of a registry table by its path
(`read.parquet(s"$d/<table>.parquet")`, for any of the ten tables in
REGISTRY_TABLES) may appear in src/main code only in core/Catalog.scala.
`Catalog.table` reads the schema from the table's footer on the driver,
so building a frame runs no Spark job; a bare read runs one schema-
inference job per call, and a hand-written read of `events` also skips
the canonical `ts` normalization of `Catalog.events`. Comments are not
searched; any other site is flagged.

One bounded driver fit: a statement that chains `.limit(` into
`.collect()`, `.head(`, `.take(` or `.first()` (on one line, or across
lines that continue the chain with a leading `.`), and the cap literal
`65536`, may appear in src/main code only in core/BoundedFit.scala.
Every driver fit pulls its sample there (the `MaxRows` smallest rows
by a key list, or the `n` smallest for a fixed seed) and every oracle
replays that sample from the same keys, so the sample definition and
its cap are decided once. Comments are not searched; any other site is
flagged.

No unreferenced dev mains: every `object` with a `def main` under
src/test must be named in a living doc (README.md, SCALING.md or
COVERAGE.md) that says what it reproduces. Historical records
(ROUND_NOTES_*, OPTIMIZATION_*, VERDICT.md, bench_records/) do not
count: a probe whose numbers live only there has answered its question,
and `graft.Trace` re-asks any per-query one. Any other test main is
flagged.

Exit 1 with the flagged list if anything is found; exit 0 silently
otherwise. Part of the closing ritual (see ROUND_NOTES / memory).
"""

import os
import re
import sys
from collections import defaultdict

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
MAIN = os.path.join(ROOT, "src", "main", "scala", "graft")
SRC = os.path.join(ROOT, "src")

# driver-contract names the harness invokes reflectively
EXCEPTIONS = {"entry", "queries", "oracleSql", "benchQueries", "twinOf", "main"}

SESSION_HOME = os.path.join("src", "main", "scala", "graft", "core", "GraftSession.scala")
BUILDER_RE = re.compile(r"SparkSession\s*\.\s*builder")

CACHE_HOME = os.path.join("src", "main", "scala", "graft", "core", "Materialize.scala")
CACHE_RE = re.compile(r"\.\s*(?:cache\(\)|persist\(|unpersist\()")

STREAM_HOME = os.path.join("src", "main", "scala", "graft", "streaming", "StreamRunner.scala")
STREAM_RE = re.compile(r"\.\s*writeStream\b|\bprocessAllAvailable\(|\bnewSession\(")

HASH_HOME = os.path.join("src", "main", "scala", "graft", "functions", "Md5Prefix.scala")
HASH_RE = re.compile(r"conv\(\s*substring\(\s*md5\(|'0x'\s*\|\|\s*substr\(\s*md5\(")
CHECKPOINT_HOMES = {os.path.join("src", "main", "scala", "graft", "core", f)
                    for f in ("Superstep.scala", "Materialize.scala")}
CHECKPOINT_RE = re.compile(r"\blocalCheckpoint\(")
# (file, enclosing def): one barrier each, outside any round loop
CHECKPOINT_SITES = {
    # lazy: spreads the corpus once on first action, never at construction
    ("CorpusPipeline.scala", "spreadText"),
    # the decoded frame must exist before its staging dir is deleted
    ("Multimodal.scala", "realDecode"),
    # the `materialize` arm: one write+read instead of a second upstream pass
    ("Cumulative.scala", "runningTotals"),
}
HARNESS_HOME = os.path.join("src", "main", "scala", "graft", "core", "QueryTrace.scala")
HYGIENE_RE = re.compile(r"\bSystem\s*\.\s*gc\(|\bclearCache\(")
LISTENER_RE = re.compile(r"\baddSparkListener\(")
CONF_RE = re.compile(r"\bdefaultParallelism\b|\bconf\s*\.\s*get(?:Option)?\(")
# (file, enclosing def): deployment settings, not tuning
CONF_SITES = {
    # where the managed bucketed table lives, to clear an orphaned location
    ("Bucketing.scala", "writeBucketed"),
}
CATALOG_HOME = os.path.join("src", "main", "scala", "graft", "core", "Catalog.scala")
REGISTRY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                   "lineitem", "events", "documents", "embeddings")
TABLE_READ_RE = re.compile(r"\bread\s*\.\s*parquet\(\s*s?\"[^\"\n]*/(?:"
                           + "|".join(REGISTRY_TABLES) + r")\.parquet\"")
FIT_HOME = os.path.join("src", "main", "scala", "graft", "core", "BoundedFit.scala")
# `.limit(` then, within one statement, a driver action: the chain may
# only cross a newline onto a line that continues it with `.`
FIT_RE = re.compile(r"\.\s*limit\((?:[^\n]|\n\s*(?=\.))*?\.\s*(?:collect\(\)|head\(|take\(|first\(\))"
                    r"|(?<![\w.])65536(?!\d)")
DEF_NAME_RE = re.compile(r"\bdef\s+(\w+)")
# string/char literals are kept as-is (so a `//` inside one is not a
# comment); comments are blanked, keeping their newlines for line numbers
LEXEME_RE = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"|\'(?:\\.|[^\'\\\n])\'|//[^\n]*|/\*[\s\S]*?\*/')


def code_only(text):
    """`text` with Scala comments replaced by their newlines."""
    def blank(m):
        lexeme = m.group(0)
        return "\n" * lexeme.count("\n") if lexeme.startswith(("//", "/*")) else lexeme
    return LEXEME_RE.sub(blank, text)

LIVING_DOCS = ("README.md", "SCALING.md", "COVERAGE.md")
MAIN_OBJECT_RE = re.compile(r"^object\s+(\w+)[^\n]*?\{(?:(?!^object\s).)*?\bdef main\(", re.M | re.S)

DEF_RE = re.compile(r"^(  |\t)(?:final |implicit |@\w+ )*def ([A-Za-z_][A-Za-z0-9_]*)")


def confined_outside(homes, pattern, allowed=frozenset(), base=os.path.join("src", "main")):
    """`file:line` of every match of `pattern` in the code under `base`
    outside the `homes` files and the (file name, enclosing def) pairs in
    `allowed`."""
    sites = []
    for path in sorted(scala_files(os.path.join(ROOT, base))):
        rel = os.path.relpath(path, ROOT)
        if rel in homes:
            continue
        with open(path, encoding="utf-8") as fh:
            code = code_only(fh.read())
        for m in pattern.finditer(code):
            defs = DEF_NAME_RE.findall(code, 0, m.start())
            if (os.path.basename(rel), defs[-1] if defs else None) not in allowed:
                sites.append(f"{rel}:{code.count(chr(10), 0, m.start()) + 1}")
    return sites


def scala_files(base):
    for dirpath, _, files in os.walk(base):
        for f in files:
            if f.endswith(".scala"):
                yield os.path.join(dirpath, f)


def main():
    # declaration sites: (name -> [(file, lineno)]) for public top-level defs
    decls = defaultdict(list)
    for path in scala_files(MAIN):
        with open(path, encoding="utf-8") as fh:
            for i, line in enumerate(fh, 1):
                if re.match(r"^\s*(private|protected)\b", line):
                    continue
                if "override" in line.split("def")[0]:
                    continue
                m = DEF_RE.match(line)
                if m and m.group(2) not in EXCEPTIONS:
                    decls[m.group(2)].append((os.path.relpath(path, ROOT), i))

    # occurrence count of each name across ALL of src/, excluding the
    # declaration lines themselves
    flagged = []
    for name, sites in sorted(decls.items()):
        pattern = re.compile(r"\b" + re.escape(name) + r"\b")
        decl_keys = {(f, n) for f, n in sites}
        refs = 0
        for path in scala_files(SRC):
            rel = os.path.relpath(path, ROOT)
            with open(path, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if (rel, i) in decl_keys:
                        continue
                    if pattern.search(line):
                        refs += 1
                        if refs > 0:
                            break
            if refs:
                break
        if not refs:
            flagged.append((name, sites))

    builders = []
    for path in scala_files(os.path.join(ROOT, "src", "main")):
        rel = os.path.relpath(path, ROOT)
        if rel == SESSION_HOME:
            continue
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        for m in BUILDER_RE.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            builders.append(f"{rel}:{line}")

    caches = confined_outside({CACHE_HOME}, CACHE_RE)
    streams = confined_outside({STREAM_HOME}, STREAM_RE)
    hashes = confined_outside({HASH_HOME}, HASH_RE)
    checkpoints = confined_outside(CHECKPOINT_HOMES, CHECKPOINT_RE, CHECKPOINT_SITES)
    harness = (confined_outside({HARNESS_HOME}, HYGIENE_RE)
               + confined_outside({HARNESS_HOME}, LISTENER_RE, base="src"))
    confs = confined_outside({SESSION_HOME}, CONF_RE, CONF_SITES)
    table_reads = confined_outside({CATALOG_HOME}, TABLE_READ_RE)
    fits = confined_outside({FIT_HOME}, FIT_RE)

    docs = ""
    for doc in LIVING_DOCS:
        with open(os.path.join(ROOT, doc), encoding="utf-8") as fh:
            docs += fh.read()
    stray_mains = []
    for path in sorted(scala_files(os.path.join(ROOT, "src", "test"))):
        with open(path, encoding="utf-8") as fh:
            text = fh.read()
        for m in MAIN_OBJECT_RE.finditer(text):
            if not re.search(r"\b" + m.group(1) + r"\b", docs):
                stray_mains.append(f"{m.group(1)}  ({os.path.relpath(path, ROOT)})")

    if builders:
        print(f"SparkSession.builder outside {SESSION_HOME} (use GraftSession.local):")
        for site in builders:
            print(f"  {site}")
    if caches:
        print(f"cache/persist/unpersist outside {CACHE_HOME} (use Materialize.scoped):")
        for site in caches:
            print(f"  {site}")
    if streams:
        print(f"writeStream/processAllAvailable/newSession outside {STREAM_HOME} (use StreamRunner):")
        for site in streams:
            print(f"  {site}")
    if hashes:
        print(f"md5-prefix hash written out outside {HASH_HOME} (use Md5Prefix):")
        for site in hashes:
            print(f"  {site}")
    if checkpoints:
        print("localCheckpoint( outside core/Superstep.scala, core/Materialize.scala "
              "and CHECKPOINT_SITES (use Superstep):")
        for site in checkpoints:
            print(f"  {site}")
    if harness:
        print(f"System.gc(/clearCache( in src/main or addSparkListener( in src/ outside {HARNESS_HOME} "
              "(use QueryTrace):")
        for site in harness:
            print(f"  {site}")
    if confs:
        print(f"defaultParallelism/conf.get(/conf.getOption( outside {SESSION_HOME} "
              "and CONF_SITES (use GraftSession.parallelism):")
        for site in confs:
            print(f"  {site}")
    if table_reads:
        print(f"registry-table parquet read outside {CATALOG_HOME} (use Catalog.table):")
        for site in table_reads:
            print(f"  {site}")
    if fits:
        print(f"limit-then-collect pull or the 65536 cap outside {FIT_HOME} (use BoundedFit):")
        for site in fits:
            print(f"  {site}")
    if flagged:
        print("UNREFERENCED public defs in src/main (no other occurrence in src/):")
        for name, sites in flagged:
            for f, n in sites:
                print(f"  {name}  ({f}:{n})")
    if stray_mains:
        print(f"test-tree mains named in none of {', '.join(LIVING_DOCS)}:")
        for site in stray_mains:
            print(f"  {site}")
    if (flagged or builders or caches or streams or hashes or checkpoints or harness or confs or table_reads
            or fits or stray_mains):
        sys.exit(1)
    print(f"check_unreferenced: OK ({len(decls)} public defs, all referenced)")


if __name__ == "__main__":
    main()
