#!/usr/bin/env python3
"""Caller census over src/main/scala; run from the repo root, no flags.

Strips comments from src/main/scala and perfbench/src, counts word references
to each public or package-private member def (its `def` and own span excluded;
tests are not callers), blanks the span of every def with none, and repeats
until nothing changes. Exits 1 on a caller-less def that ALLOW does not name,
or on an ALLOW entry that is no longer caller-less.
"""
import collections, pathlib, re, sys

ALLOW = {  # survivor -> its one reason to stay
    "Sql.queryOne": "SURVEY 2.10 reference operator", "Sql.queryMany": "SURVEY 2.10 reference operator",
    "Summaries.rejigPrecision": "SURVEY P7 reference operator",
    "IO.convert": "SURVEY S9 reference operator", "IO.mergeCsvDir": "SURVEY S10 reference operator",
    "ScoreStore.readFlatWithInferredDate": "SURVEY S5 reference operator",
    "DateRanges.parseDate": "SURVEY 1.6 reference operator",
    "Changes.betweenSnapshots": "the two-frame get_changed_scores of the reference",
    "Changes.forwardFill": "SURVEY 5.2.3 property tests",
    **dict.fromkeys(["GraftFunctions.registerAll", "ColumnBridge.registerFunction",
                     "ColumnBridge.applyExtensions"], "SURVEY 2.11 UDF surface"),
    "EventStreams.sessionWindows": "spec reference for q36's gaps-and-islands twin",
    "Similarity.lshBucketDeclarative": "spec reference for the LSH bucket kernel",
    **dict.fromkeys(["Bucketing.writeBucketed", "ScoreStore.writeBucketedTable"],
                    "deferred: PlanSpec pins the bucketed join"),
    **dict.fromkeys(["Bucketing.zorderKey", "Bucketing.writeZOrdered"], "deferred: SURVEY 7.5 Z-order layout"),
    "Sampling.trainTestSplit": "deferred: CurationPipelineSpec composes it",
}
ENTRY = {"main", "apply", "unapply"}  # reached by the JVM or by syntax, never by name
STRIP = re.compile(r'"""[\s\S]*?"""|\'(?:\\.|[^\'\\\n])\'|"(?:\\.|[^"\\\n])*"|/\*[\s\S]*?\*/|//[^\n]*')
OWNER = re.compile(r"^(?:final |sealed |abstract |case |private\[\w+\] )*(?:object|class|trait) (\w+)")
DEF = re.compile(r"^  (?:final |@inline |private\[\w+\] )*def (\w+)")


def strip(src):
    return STRIP.sub(lambda m: m.group() if m.group()[0] in "\"'" else re.sub(r"[^\n]", " ", m.group()), src)


def members(lines):
    """(owner, name, first, end) for each public member def; end is exclusive."""
    owner, out = None, []
    for i, line in enumerate(lines):
        owner = (OWNER.match(line) or [None, owner])[1]
        m = DEF.match(line)
        if m and owner:
            j = i + 1
            while j < len(lines) and (not lines[j].strip() or lines[j].startswith("   ")):
                j += 1
            if j < len(lines) and re.match(r"^  [})]", lines[j]):
                j += 1
            out.append((owner, m.group(1), i, j))
    return out


def refs(src):
    """Word counts, the word after `def` excluded (a declaration is not a reference)."""
    return collections.Counter(re.findall(r"(?<!def )\b\w+", src))


def main():
    files = [*sorted(pathlib.Path("src/main/scala").rglob("*.scala")), *sorted(pathlib.Path("perfbench/src").rglob("*.scala"))]
    text = {f: strip(f.read_text()).split("\n") for f in files}
    defs = [(f, *d) for f in files if f.parts[0] == "src" for d in members(text[f])]
    dead, new = set(), True
    while new:  # a def reached only from dead spans is dead in the next round
        corpus = refs("\n".join("\n".join(ls) for ls in text.values()))
        new = [(f, a, b) for f, _, name, a, b in defs if name not in ENTRY and (f, a) not in dead
               and corpus[name] == refs("\n".join(text[f][a:b]))[name]]
        for f, a, b in new:
            dead.add((f, a))
            text[f][a:b] = [""] * (b - a)
    found = {f"{o}.{n}": f"{f}:{a + 1}" for f, o, n, a, _ in defs if (f, a) in dead}
    bad = sorted(k for k in found if k not in ALLOW)
    stale = sorted(k for k in ALLOW if k not in found)
    for k in sorted(found):
        print(f"{'ok  ' if k in ALLOW else 'DEAD'} {k:45} {ALLOW.get(k, found[k])}")
    for k in stale:
        print(f"STALE {k}: allowlisted but reached or gone; drop it from ALLOW")
    print(f"== {len(found)} caller-less public defs, {len(bad)} unlisted, {len(stale)} stale ==")
    return 1 if bad or stale else 0


if __name__ == "__main__":
    sys.exit(main())
