#!/usr/bin/env python3
"""Regenerate the fleet_slice member list from the query sources.

Rule (stated, seeded, family-stratified; it never looks at timings):
  1. Every entry of the `queries` maps in ATier/BTier/Extensions is a
     candidate; its body is the `private val <id>: Q` definition it names.
  2. Its family is the first family, in FAMILY_ORDER, one of whose operator
     objects the body calls (`Dedup.`, `Graph.`, ...). ATier entries are the
     `reference` family (the CSV Q&A path); a body that calls none of these
     objects (plain DataFrame/SQL, or only layout helpers such as ZOrder,
     Bucketing, RangeJoin) is `relational`.
  3. Within each family, members are ranked by sha256("<SLICE_SEED>:<name>")
     and the first PER_FAMILY are taken.

Usage: python3 perfbench/fleet_slice.py > perfbench/fleet_slice.txt
"""
import hashlib
import os
import re

SLICE_SEED = 2020
PER_FAMILY = 1
# The ROADMAP's operator families, mapped onto the operator objects under
# src/main/scala/graft/{operators,streaming}. Pairs that share most of their
# machinery (dedup/similarity: shingles, signatures, candidate joins;
# text/multimodal: per-row feature extraction) are one stratum each, which
# keeps a warm pass of the slice near seven seconds on four cores.
FAMILY_ORDER = [
    ("streaming", ["EventStream", "CdcMerge", "Scd2", "AsOf"]),
    ("graph", ["Graph"]),
    ("dedup_similarity", ["Dedup", "Curation", "Integrity", "Similarity", "BloomJoin"]),
    ("text_multimodal", ["Multimodal", "TextAnalysis", "Conversation", "Preference"]),
    ("stats", ["Analytics", "Sampling"]),
]
QUERY_FILES = ["ATier.scala", "BTier.scala", "Extensions.scala"]


def bodies(text):
    """id -> source of its `private val <id>: Q` definition."""
    starts = [(m.group(1), m.start()) for m in
              re.finditer(r"^  private val (\w+): Q\b", text, re.M)]
    out = {}
    for i, (ident, pos) in enumerate(starts):
        end = starts[i + 1][1] if i + 1 < len(starts) else len(text)
        # stop at the next top-level member so helpers are not swallowed
        nxt = re.search(r"^  (?:private |lazy )*(?:val|def|object) ", text[pos + 1:end], re.M)
        out[ident] = text[pos:pos + 1 + nxt.start()] if nxt else text[pos:end]
    return out


def entries(text):
    """(name, id) pairs of the `val queries: Map[String, Q]` literal."""
    start = text.index("val queries: Map[String, Q] = Map(")
    end = text.index("\n\n", start)
    return re.findall(r'"(\w+)"[ \t]*->[ \t]*(\w+)', text[start:end])


def family(file_name, body):
    if file_name == "ATier.scala":
        return "reference"
    for fam, objs in FAMILY_ORDER:
        if any(re.search(r"\b%s\." % o, body) for o in objs):
            return fam
    return "relational"


def slice_members(repo_root):
    qdir = os.path.join(repo_root, "src/main/scala/graft/queries")
    fams = {}
    for fn in QUERY_FILES:
        text = open(os.path.join(qdir, fn), encoding="utf-8").read()
        b = bodies(text)
        for name, ident in entries(text):
            fams.setdefault(family(fn, b.get(ident, "")), []).append(name)
    rank = lambda n: hashlib.sha256(f"{SLICE_SEED}:{n}".encode()).hexdigest()
    picked = []
    for fam in sorted(fams):
        for name in sorted(fams[fam], key=rank)[:PER_FAMILY]:
            picked.append((fam, name, len(fams[fam])))
    return picked


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print(f"# fleet_slice members: python3 perfbench/fleet_slice.py "
          f"(seed {SLICE_SEED}, {PER_FAMILY} per family)")
    print("# family\tquery\tfamily_size")
    for fam, name, n in slice_members(root):
        print(f"{fam}\t{name}\t{n}")
