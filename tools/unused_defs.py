#!/usr/bin/env python3
"""Two dead-code checks; exits 1 if either finds a name not on its allow-list.
1. Main-source `def`/`val` names that nothing else in the main source or in
   perfbench refers to. Comments are skipped; strings are kept, so a name
   spelled inside SQL text counts as a use. Overrides are skipped.
2. Defaulted parameters of the graft.ops and graft.streaming operators (the
   mapreduce-wsi surface Jobs, PipeOps and MapReduceOps aside), of
   graft.io.Artifact and Layout, and of the graft.queries oracle SQL builders
   that no call in src/main or perfbench/src sets, by name or by position.
   Tests are not callers: a parameter only a test sets is a constant unless
   ALLOW_PARAMS keeps it, and an ALLOW_PARAMS entry that no test sets any
   more (or that main source now sets) fails too. A call that passes the
   parameter's own default expression verbatim does not set it.
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

# Defaulted parameters kept although only tests set them ("def.param": why).
ALLOW_PARAMS = {
    "connectedComponents.localMaxEdges": "the only way a fixture-sized graph reaches the distributed star loop",
    "refreshBpe.batchId": "the replay token that fixes the digest token's same-content defect",
    "saveBands.numHashes": "ArtifactSpec's killed re-save varies the recorded geometry",
    "savePostings.nBuckets": "ArtifactSpec's killed re-save varies the recorded bucket count",
    "saveUrlKeys.nBuckets": "ArtifactSpec's killed re-save varies the recorded bucket count",
    "saveClusterLabels.nBuckets": "ArtifactSpec's killed re-save varies the recorded bucket count",
}
PARAM_SCOPE = re.compile(r"^src/main/scala/graft/((ops|streaming)/(?!(Jobs|PipeOps|MapReduceOps)\.scala)"
                         r"|io/(Artifact|Layout)\.scala|queries/)")
STRING = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"')
TOKEN = re.compile(STRING.pattern + r'|//[^\n]*|/\*(?:.|\n)*?\*/')
DEF = re.compile(r"(?<![\w.])(override\s+)?(?:(?:private|protected)(?:\[\w+\])?\s+)?"
                 r"(?:lazy\s+)?(?:def|val|var)\s+([A-Za-z_]\w*)")


def strip_comments(src):
    return TOKEN.sub(lambda m: m.group(0) if m.group(0).startswith('"')
                     else "\n" * m.group(0).count("\n") or " ", src)


def skip(s, k):
    """Index past the string literal or bracket group at s[k], else k + 1."""
    depth = 0
    while True:
        m = STRING.match(s, k)
        k, depth = (m.end(), depth) if m else (k + 1, depth + (s[k] in "([{") - (s[k] in ")]}"))
        if depth <= 0:
            return k


def arg_lists(src, i):
    """The (...) parameter or argument lists right after src[i], past a [..],
    each as its top-level comma-separated items."""
    lists, i = [], skip(src, i) if src.startswith("[", i) else i
    while src.startswith("(", i):
        items, k, i = [""], i + 1, skip(src, i)
        while k < i - 1:
            j = skip(src, k)
            if src[k] == ",":
                items.append("")
            else:
                items[-1] += src[k:j]
            k = j
        lists.append([a for a in items if a.strip()])
    return lists


def unset_params(files):
    """The in-scope defaulted parameters no main or perfbench call sets and
    ALLOW_PARAMS does not keep, then the ALLOW_PARAMS entries gone stale."""
    params = []  # (path, line, def, list, position, name)
    defaults = {}  # (def, name) and (def, list, position) -> default expressions
    norm = lambda e: " ".join(e.split())
    for path, src in files.items():
        for m in re.finditer(r"\bdef\s+(\w+)", src if PARAM_SCOPE.search(str(path.relative_to(ROOT))) else ""):
            for g, plist in enumerate(arg_lists(src, m.end())):
                for k, p in enumerate(plist):
                    d = re.match(r"\s*(?:implicit\s+)?(\w+)\s*:(?:[^=]|=>)*?=(?!>)(.*)", p, re.S)
                    if d:
                        params.append((path, src.count("\n", 0, m.start()) + 1, m.group(1), g, k, d.group(1)))
                        for key in ((m.group(1), d.group(1)), (m.group(1), g, k)):
                            defaults.setdefault(key, set()).add(norm(d.group(2)))
    names = "|".join(sorted({p[2] for p in params}))
    passed = {True: set(), False: set()}  # by test source?
    for path, src in files.items():
        for m in re.finditer(rf"(?<!def )(?<![\w$])({names})\b", src):
            for g, alist in enumerate(arg_lists(src, m.end())):
                named = [re.match(r"\s*(\w+)\s*=(?![=>])(.*)", a, re.S) for a in alist]
                keys = [((m.group(1), n.group(1)), n.group(2)) if n else ((m.group(1), g, i), a)
                        for i, (n, a) in enumerate(zip(named, alist))]
                passed[path.is_relative_to(ROOT / "src/test")] |= {
                    key for key, arg in keys if norm(arg) not in defaults.get(key, ())}
    set_by = lambda side, d, g, k, n: bool({(d, n), (d, g, k)} & passed[side])
    unset = [f"{p.relative_to(ROOT)}:{l}: {d}.{n}" + (" (only tests set it)" if set_by(True, d, g, k, n) else "")
             for p, l, d, g, k, n in params if not set_by(False, d, g, k, n) and f"{d}.{n}" not in ALLOW_PARAMS]
    test_only = {f"{d}.{n}" for p, l, d, g, k, n in params
                 if set_by(True, d, g, k, n) and not set_by(False, d, g, k, n)}
    stale = [f"ALLOW_PARAMS {a}: no longer a parameter only tests set" for a in sorted(set(ALLOW_PARAMS) - test_only)]
    print(f"{len(params)} defaulted parameters in scope, {len(unset)} set by no main or perfbench call "
          f"outside ALLOW_PARAMS ({len(ALLOW_PARAMS)} kept)")
    return unset + stale


def main():
    files = {p: strip_comments(p.read_text())
             for d in SOURCES + [ROOT / "src/test"] for p in sorted(d.rglob("*.scala"))}
    text = "\n".join(v for p, v in files.items() if not p.is_relative_to(ROOT / "src/test"))
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
    unset = unset_params(files)
    print("\n".join(unset), end="\n" if unset else "")
    return 1 if found or unset else 0


if __name__ == "__main__":
    sys.exit(main())
