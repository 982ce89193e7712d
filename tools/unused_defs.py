#!/usr/bin/env python3
"""List main-source `def`/`val` names that nothing else in the main source
or in perfbench refers to. Comments are skipped; strings are kept, so a
name spelled inside SQL text counts as a use. Overrides are skipped. Exits
1 if any name is found that is not on the allow-list below.
Usage: python3 tools/unused_defs.py"""
import pathlib, re, sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SOURCES = [ROOT / "src/main", ROOT / "perfbench/src"]

# Kept although no main-source code calls them.
ALLOW = {
    "main",                    # entry points
    "decodeIds",               # inverse the encode∘decode identity test checks against
    "fitFromCountsReference",  # reference loop the incremental BPE trainer is tested against
    "splitRanges",             # reference range split JdbcSpec checks
    "httpFrameStaged",         # staged witness of the fused http_frame
    "removeDotSegments",       # Column form of RemoveDots, tested against RFC 3986 cases
    "redactedText",            # redaction reference the PII audit tests compare with
    "writeTsv",                # the reference's TSV sink (README)
    "runJarMain",              # the reference's runMapReduce
    "plantedCrawlDelays",      # planted fixture, moves with the other planted generators
}

TOKEN = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|//[^\n]*|/\*(?:.|\n)*?\*/')
DEF = re.compile(r"(?<![\w.])(override\s+)?(?:(?:private|protected)(?:\[\w+\])?\s+)?"
                 r"(?:lazy\s+)?(?:def|val|var)\s+([A-Za-z_]\w*)")


def strip_comments(src):
    return TOKEN.sub(lambda m: m.group(0) if m.group(0).startswith('"')
                     else "\n" * m.group(0).count("\n") or " ", src)


def main():
    files = {p: strip_comments(p.read_text())
             for d in SOURCES for p in sorted(d.rglob("*.scala"))}
    text = "\n".join(files.values())
    uses = {}
    for w in re.findall(r"[A-Za-z_]\w*", text):
        uses[w] = uses.get(w, 0) + 1
    found = []
    for path, src in files.items():
        if not str(path).startswith(str(ROOT / "src/main")):
            continue
        for m in DEF.finditer(src):
            name = m.group(2)
            if m.group(1) or uses[name] > 1 or name in ALLOW:
                continue
            line = src.count("\n", 0, m.start()) + 1
            found.append(f"{path.relative_to(ROOT)}:{line}: {name}")
    print("\n".join(found) if found else "no unused definitions")
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main())
