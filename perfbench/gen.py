#!/usr/bin/env python3
"""Seeded multi-hop corpus generator for the benchmark.

Shaped like tools/gen_multihop_fixture.py, but every run draws its own
corpus from --seed: the seed permutes the invented vocabulary, picks each
passage's template, and orders the questions within each kind (the kinds
themselves come in a fixed cycle). The same seed always gives the same file.

Families:
  2-hop chain i:  A_i "<explorer> unearthed the relic <relic> ..."
                      triple (<explorer>, unearthed, relic <relic>)
                  B_i "The recovered artifact now rests inside <vault> ..."
                      triple (relic <relic>, sealed within, <vault>)
  3-hop chain i:  A_i, B_i as above, plus
                  C_i "Warden <warden> keeps watch over the buried strongroom ..."
                      triple (<vault>, guarded by, warden <warden>)
  distractor j:   "Clerk <clerk> tallied ... at depot <depot> ..."
                      triple (clerk <clerk>, worked at, depot <depot>)

The bridge passage (B, and C for 3-hop) names the entity that links it to
the previous hop only in its triple, never in its text, so a dense
retriever has no lexical handle on it and the graph path must expand.

Questions carry gold passage sets:
  bridge   "In which vault is the relic <relic> kept?"        gold [A, B]
  three    "Who guards the vault that holds the relic <relic>?" gold [A, B, C]
  direct   "Who unearthed the relic <relic>?"                  gold [A]

Grafts (ingest only) are new 2-hop chains, one per batch, each paired with
a direct question whose gold is the batch's A passage.

The program receives only the docs (id, text, triplets) and the question
strings; gold sets and expected counts stay with the benchmark.

Usage: gen.py --seed N --profile serve|ingest --out FILE
"""
import argparse
import itertools
import json
import random

# Corpus shape per workload: 2-hop chains, 3-hop chains, distractors and
# graft batches. serve: 120 passages, 40 questions. ingest: 12 passages in
# the bulk index (embedded at dim 1024), then up to 40 graft batches.
PROFILES = {
    "serve": dict(chains2=24, chains3=16, distractors=24, grafts=0),
    "ingest": dict(chains2=3, chains3=1, distractors=3, grafts=40),
}

SYLLABLES = [
    "bra", "cor", "dun", "fel", "gar", "hol", "jik", "kel", "lom", "mur",
    "nav", "oth", "pex", "quo", "ris", "sav", "tul", "ulm", "vex", "wyn",
    "yor", "zan", "bel", "dra", "esk", "fro", "gli", "hax", "ivo", "jum",
]

A_TEMPLATES = [
    "{exp} unearthed the {relic} during a long expedition across the dunes.",
    "After years of digging, {exp} unearthed the {relic} beneath the ruins.",
    "{exp} unearthed the {relic} and carried it home through the mountain pass.",
]
B_TEMPLATES = [
    "The recovered artifact now rests inside {vault} behind triple locks.",
    "Curators moved the recovered artifact into {vault} for safekeeping.",
    "Under heavy watch, the recovered artifact sits inside {vault} today.",
]
C_TEMPLATES = [
    "Warden {warden} keeps watch over the buried strongroom day and night.",
    "The buried strongroom has been patrolled by warden {warden} for decades.",
    "Every dawn warden {warden} inspects the seals of the buried strongroom.",
]
D_TEMPLATES = [
    "Clerk {clerk} tallied the waxen bundles at depot {depot} before the winter frost.",
    "At depot {depot}, clerk {clerk} weighed the hemp coils against the brass standard.",
    "Clerk {clerk} logged the tallow crates arriving at depot {depot} by barge.",
]


def vocabulary(rng, n):
    """n distinct invented three-syllable words, in seeded order."""
    words = [a + b + c for a in SYLLABLES for b in SYLLABLES for c in SYLLABLES]
    rng.shuffle(words)
    return words[:n]


def norm(s):
    """The engine's T2 normalization (lowercase, non-[a-z0-9 ] -> space, trim)."""
    return "".join(c if c.isalnum() or c == " " else " " for c in s.lower()).strip()


def chain(rng, words, tag, hops):
    exp, relic, vault = next(words).capitalize(), "relic " + next(words), next(words)
    docs = [
        {"id": f"{tag}a", "text": rng.choice(A_TEMPLATES).format(exp=exp, relic=relic),
         "triplets": [[exp, "unearthed", relic]]},
        {"id": f"{tag}b", "text": rng.choice(B_TEMPLATES).format(vault=vault),
         "triplets": [[relic, "sealed within", vault]]},
    ]
    if hops == 3:
        warden = next(words)
        docs.append({"id": f"{tag}c", "text": rng.choice(C_TEMPLATES).format(warden=warden),
                     "triplets": [[vault, "guarded by", "warden " + warden]]})
    return docs, relic


def generate(seed, profile):
    p = PROFILES[profile]
    rng = random.Random(seed)
    need = 4 * (p["chains2"] + p["chains3"] + p["grafts"]) + 2 * p["distractors"]
    words = iter(vocabulary(rng, need))
    docs, bridge, direct, three = [], [], [], []
    for i in range(p["chains2"]):
        d, relic = chain(rng, words, f"p{i}", 2)
        docs += d
        if i % 2 == 0:
            bridge.append({"question": f"In which vault is the {relic} kept?",
                           "gold": [d[0]["id"], d[1]["id"]], "kind": "bridge"})
        else:
            direct.append({"question": f"Who unearthed the {relic}?",
                           "gold": [d[0]["id"]], "kind": "direct"})
    for i in range(p["chains3"]):
        d, relic = chain(rng, words, f"t{i}", 3)
        docs += d
        three.append({"question": f"Who guards the vault that holds the {relic}?",
                      "gold": [x["id"] for x in d], "kind": "three"})
    for j in range(p["distractors"]):
        clerk, depot = next(words), next(words)
        docs.append({"id": f"d{j}", "text": rng.choice(D_TEMPLATES).format(clerk=clerk, depot=depot),
                     "triplets": [["clerk " + clerk, "worked at", "depot " + depot]]})
    grafts = []
    for g in range(p["grafts"]):
        d, relic = chain(rng, words, f"g{g}", 2)
        grafts.append({"docs": d, "question": f"Who unearthed the {relic}?",
                       "gold": [d[0]["id"]]})
    rng.shuffle(docs)
    # Questions cycle through the kinds in a fixed order (bridge, three-hop,
    # direct) so every run's first questions have the same shape; the seed
    # picks which chain each one asks about.
    for qs in (bridge, three, direct):
        rng.shuffle(qs)
    questions = [q for group in itertools.zip_longest(bridge, three, direct)
                 for q in group if q is not None]
    return {
        "seed": seed, "profile": profile, "docs": docs, "questions": questions,
        "grafts": grafts,
        # GraphStore.stats after the bulk index and k grafts, k = 0..len(grafts)
        "expected_stats_after_grafts": [
            stats(docs + [d for g in grafts[:k] for d in g["docs"]])
            for k in range(len(grafts) + 1)],
    }


def stats(docs):
    """Row counts the engine's graph tables must hold for these docs."""
    entities = {norm(x) for d in docs for t in d["triplets"] for x in (t[0], t[2])}
    relations = {" ".join(norm(x) for x in t) for d in docs for t in d["triplets"]}
    return {"entities": len(entities), "relations": len(relations), "passages": len(docs)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--profile", choices=sorted(PROFILES), required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open(a.out, "w") as f:
        json.dump(generate(a.seed, a.profile), f)


if __name__ == "__main__":
    main()
