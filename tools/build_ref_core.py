"""Compile the reference lucene-core (+ the analysis-common hunspell
package) from source on the local JDK 17 for compiled-parity harnesses.

The reference targets JDK 21+; this script copies the source to /tmp and
mechanically downgrades the handful of 21-only constructs:

- '_' unnamed variables/lambda params -> unique synthetic names
  (driven by javac's own error list, so only real identifier uses are
  touched — never strings or comments);
- Math.ceilDiv / HashMap.newHashMap / SequencedCollection getFirst()/
  getLast()/addFirst()/removeFirst()/removeLast() / Math.clamp ->
  JDK 17 equivalents, patched only on lines javac flags;
- the java.lang.foreign (FFM) mmap classes are excluded and
  FSDirectory.open falls back to NIOFSDirectory (harness-only; no
  behavioral relevance to the classes under test).

Output: /tmp/lucore (class tree). Idempotent: skips work if the marker
class is already present and newer than this script.

Run: python tools/build_ref_core.py [--force]
"""
from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_spark.functions.stempel import ref_dir  # noqa: E402

#: the Lucene source tree: $LUCENE_SPARK_REF_DIR (``stempel.ref_dir``)
REF = os.path.join(ref_dir(), "lucene")
REF_CORE = f"{REF}/core/src/java"
REF_HUNSPELL = f"{REF}/analysis/common/src/java/org/apache/lucene/analysis/hunspell"
REF_WIKIPEDIA = f"{REF}/analysis/common/src/java/org/apache/lucene/analysis/wikipedia"
REF_MISC_INDEX = f"{REF}/misc/src/java/org/apache/lucene/misc/index"
# only the BP reordering classes (the rest of misc/index pulls module deps)
MISC_FILES = ("AbstractBPReorderer.java", "IndexReorderer.java",
              "BPIndexReorderer.java")
REF_VHL = f"{REF}/highlighter/src/java/org/apache/lucene/search/vectorhighlight"
# FieldQuery's single queries-module dependency (core-only imports itself)
REF_FSQ = (f"{REF}/queries/src/java/org/apache/lucene/"
           "queries/function/FunctionScoreQuery.java")
# vectorhighlight's only highlight-package deps
REF_HL = f"{REF}/highlighter/src/java/org/apache/lucene/search/highlight"
HL_FILES = ("Encoder.java", "DefaultEncoder.java")
SRC = "/tmp/lucsrc_auto"
OUT = "/tmp/lucore"
MARKER = os.path.join(OUT, "org/apache/lucene/analysis/hunspell/"
                            "Stemmer.class")

FFM_EXCLUDE = ("MMapDirectory", "MemorySegmentAccessInput",
               "MemorySegmentIndexInput", "NativeAccess",
               "PosixNativeAccess", "RefCountedSharedArena")

_IDENT_UNDERSCORE = re.compile(r"(?<![\w$])_(?![\w$])")


def _compile(srcs_file: str) -> list[str]:
    p = subprocess.run(
        ["javac", "-encoding", "UTF-8", "--add-modules",
         "jdk.incubator.vector", "-Xmaxerrs", "500", "-d", OUT,
         "@" + srcs_file],
        capture_output=True, text=True, cwd=SRC)
    return [l for l in p.stderr.splitlines() if " error: " in l]


def _patch_line(s: str, counter: list[int]) -> str:
    orig = s
    if "'_'" not in s:  # API patches (applied on javac-flagged lines)
        for cls in ("HashMap", "LinkedHashMap", "HashSet"):
            call = f"{cls}.new{cls}("
            at = s.find(call)
            if at >= 0:
                depth = 1
                j = at + len(call)
                while j < len(s) and depth:
                    depth += {"(": 1, ")": -1}.get(s[j], 0)
                    j += 1
                s = s[:at] + f"new java.util.{cls}<>()" + s[j:]
        m = re.search(r"Math\.ceilDiv\(([^,]+), ([^()]+)\)", s)
        if m:
            a, b = m.group(1), m.group(2)
            s = s.replace(m.group(0), f"(-Math.floorDiv(-({a}), {b}))")
        m = re.search(r"Math\.clamp\(([^,]+), (-?\d+), (-?\d+)\)", s)
        if m:
            v, lo, hi = m.groups()
            s = s.replace(m.group(0),
                          f"Math.max({lo}f, Math.min({hi}f, {v}))")
        m = re.search(r"(\w+)\.getFirst\(\)", s)
        if m:
            s = s.replace(m.group(0), f"{m.group(1)}.get(0)")
        m = re.search(r"(\w+(?:\.\w+)*)\.getLast\(\)", s)
        if m and ".removeLast" not in s:
            r = m.group(1)
            s = s.replace(m.group(0), f"{r}.get({r}.size() - 1)")
        m = re.search(r"(\w+)\.addFirst\(", s)
        if m:
            s = s.replace(f"{m.group(1)}.addFirst(",
                          f"{m.group(1)}.add(0, ")
        m = re.search(r"(\w+)\.removeFirst\(\)", s)
        if m:
            s = s.replace(m.group(0), f"{m.group(1)}.remove(0)")
        m = re.search(r"(\w+(?:\.\w+)*)\.removeLast\(\)", s)
        if m:
            r = m.group(1)
            s = s.replace(m.group(0), f"{r}.remove({r}.size() - 1)")
        if s != orig:
            return s

    def sub(_m):
        counter[0] += 1
        return f"__unnamed{counter[0]}"

    return _IDENT_UNDERSCORE.sub(sub, s)


def build(force: bool = False) -> str:
    if not force and os.path.exists(MARKER) \
            and os.path.getmtime(MARKER) >= os.path.getmtime(__file__):
        return OUT
    shutil.rmtree(SRC, ignore_errors=True)
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(SRC)
    shutil.copytree(os.path.join(REF_CORE, "org"), os.path.join(SRC, "org"))
    shutil.copytree(
        REF_HUNSPELL,
        os.path.join(SRC, "org/apache/lucene/analysis/hunspell"))
    shutil.copytree(
        REF_WIKIPEDIA,
        os.path.join(SRC, "org/apache/lucene/analysis/wikipedia"))
    # the factory needs analysis-common's TokenizerFactory SPI — not core
    os.remove(os.path.join(
        SRC, "org/apache/lucene/analysis/wikipedia/"
             "WikipediaTokenizerFactory.java"))
    misc_dst = os.path.join(SRC, "org/apache/lucene/misc/index")
    os.makedirs(misc_dst)
    for f in MISC_FILES:
        shutil.copy(os.path.join(REF_MISC_INDEX, f), misc_dst)
    shutil.copytree(
        REF_VHL, os.path.join(SRC, "org/apache/lucene/search/vectorhighlight"))
    fsq_dst = os.path.join(SRC, "org/apache/lucene/queries/function")
    os.makedirs(fsq_dst)
    shutil.copy(REF_FSQ, fsq_dst)
    hl_dst = os.path.join(SRC, "org/apache/lucene/search/highlight")
    os.makedirs(hl_dst)
    for f in HL_FILES:
        shutil.copy(os.path.join(REF_HL, f), hl_dst)
    # SPI registrations (Codec/PostingsFormat/... lookups at runtime)
    os.makedirs(OUT, exist_ok=True)
    shutil.copytree(
        os.path.join(os.path.dirname(REF_CORE), "resources/META-INF"),
        os.path.join(OUT, "META-INF"), dirs_exist_ok=True)
    # FFM exclusions + the FSDirectory fallback
    for name in FFM_EXCLUDE:
        p = os.path.join(SRC, f"org/apache/lucene/store/{name}.java")
        if os.path.exists(p):
            os.remove(p)
    fsd = os.path.join(SRC, "org/apache/lucene/store/FSDirectory.java")
    src = open(fsd, encoding="utf-8").read()
    open(fsd, "w", encoding="utf-8").write(src.replace(
        "return new MMapDirectory(path, lockFactory);",
        "return new NIOFSDirectory(path, lockFactory); // no FFM on 17"))
    srcs_file = os.path.join(SRC, "srcs.txt")
    with open(srcs_file, "w") as fh:
        for base, _dirs, files in os.walk(SRC):
            for f in files:
                if f.endswith(".java") and f != "module-info.java":
                    fh.write(os.path.relpath(os.path.join(base, f), SRC)
                             + "\n")
    counter = [0]
    for round_ in range(12):
        errs = _compile("srcs.txt")
        if not errs:
            print(f"compiled clean after {round_} patch rounds "
                  f"({counter[0]} underscore renames)")
            return OUT
        by_file: dict[str, set[int]] = {}
        for e in errs:
            f, ln = e.split(":")[0], int(e.split(":")[1])
            by_file.setdefault(f, set()).add(ln)
        changed = 0
        for f, lns in by_file.items():
            path = os.path.join(SRC, f)
            lines = open(path, encoding="utf-8").read().splitlines(
                keepends=True)
            for ln in lns:
                new = _patch_line(lines[ln - 1], counter)
                if new != lines[ln - 1]:
                    lines[ln - 1] = new
                    changed += 1
            open(path, "w", encoding="utf-8").write("".join(lines))
        print(f"round {round_}: {len(errs)} errors, patched {changed} lines")
        if changed == 0:
            for e in errs[:10]:
                print(" ", e)
            raise RuntimeError("patcher stuck — new JDK-21 construct?")
    raise RuntimeError("did not converge")


if __name__ == "__main__":
    build(force="--force" in sys.argv)
    print(OUT)
