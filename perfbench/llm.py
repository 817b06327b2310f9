"""LLM pretraining corpus: seeded generator and manifest checker.

Each document gets a planned fate, so the share each stage of
``llm_pipeline.prepare_training_data`` keeps is set here and the
survivors of every stage are known before the pipeline runs:

* ``fr``/``es`` documents             -> dropped by the language filter
* low-quality documents (three tokens, punctuation runs)
                                      -> dropped by the quality filter
* one word repeated                   -> dropped by the repetition gate
* exact copies of a document          -> one survivor (the minimum id)
* near-duplicates (a document plus one appended word, two per base)
                                      -> one survivor per cluster (the
                                         minimum id)
* documents holding a 3-word span of a probe document
                                      -> dropped by decontamination
* everything else, English or German  -> packed into per-language chunks

Content words are drawn Zipf-like from a long-tail vocabulary of
generated words, and probe documents use a disjoint vocabulary, so no
clean document shares a word 3-gram with the probe by accident and
none is a near-duplicate of another.

Near-duplicate recall: a base of n >= 60 tokens and its variant share
all but one of their 3-gram shingles (Jaccard >= 58/59), so with the
pipeline's 4 bands x 3 rows a pair is missed with probability
(1 - J^3)^4 < 1e-5, and a variant is lost only if both of its pairs are.
"""

from __future__ import annotations

import bisect
import csv
import itertools
import json
import os
import random

LANGUAGES = ("en", "de")
CHUNK_BUDGET = 256
SCHEMA = "doc_id long, text string"

STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    # Only words that no other lexicon holds, so the guess is certain.
    "fr": ("le", "et", "est", "pas", "pour", "dans"),
    "es": ("el", "y", "es", "no", "por"),
}

# (fate, share of generated documents)
FATES = (
    ("foreign", 0.08),
    ("lowq", 0.04),
    ("repetitive", 0.04),
    ("exact_copy", 0.08),
    ("near_variant", 0.08),
    ("contaminated", 0.06),
)
STAGES = ("input", "filtered", "deduped", "clustered", "clean")


def _vocabulary(onsets: str, n: int, rng: random.Random) -> list[str]:
    syllables = [c + v for c in onsets for v in "aeiou"]
    words = sorted({"".join(p) for k in (2, 3) for p in itertools.product(syllables, repeat=k)})
    rng.shuffle(words)
    return words[:n]


def generate(d: str, seed: int, n_docs: int, n_probe: int = 300) -> dict:
    """Write ``corpus.jsonl`` and ``probe.jsonl`` under ``d`` and return
    (and store as ``truth.json``) the expected survivors per stage and
    the expected manifest."""
    rng = random.Random(seed)
    vocab = _vocabulary("bcdfghjklmnprstvw", 40_000, rng)
    cum = list(itertools.accumulate(1.0 / (r + 1) ** 1.1 for r in range(len(vocab))))
    probe_vocab = _vocabulary("qxz", 3_000, rng)

    def content() -> str:
        return vocab[bisect.bisect(cum, rng.random() * cum[-1])]

    def prose(lang: str, n: int) -> list[str]:
        stops = STOPWORDS[lang]
        return [rng.choice(stops) if rng.random() < 0.3 else content() for _ in range(n)]

    probe = [[rng.choice(probe_vocab) for _ in range(rng.randrange(15, 40))] for _ in range(n_probe)]

    docs: list[dict] = []  # text, fate, lang, group
    bases: list[dict] = []  # clean singletons that copies/variants may reuse
    while len(docs) < n_docs:
        r, fate = rng.random(), "clean"
        for name, share in FATES:
            if r < share:
                fate = name
                break
            r -= share
        if fate in ("exact_copy", "near_variant") and not bases:
            fate = "clean"
        if fate == "clean":
            lang = "de" if rng.random() < 0.15 else "en"
            doc = {"text": " ".join(prose(lang, rng.randrange(60, 160))), "fate": fate,
                   "lang": lang, "group": len(docs)}
            bases.append(doc)
            docs.append(doc)
        elif fate == "foreign":
            docs.append({"text": " ".join(prose(rng.choice(("fr", "es")), rng.randrange(30, 120))),
                         "fate": fate})
        elif fate == "lowq":
            docs.append({"text": "the " + ";" * rng.randrange(20, 40) + " " + "," * rng.randrange(20, 40),
                         "fate": fate})
        elif fate == "repetitive":
            docs.append({"text": " ".join([content()] * rng.randrange(8, 40) + ["the", "of"]),
                         "fate": fate})
        elif fate == "contaminated":
            lang = "de" if rng.random() < 0.15 else "en"
            toks = prose(lang, rng.randrange(60, 160))
            p = rng.choice(probe)
            at = rng.randrange(len(p) - 2)
            pos = rng.randrange(len(toks))
            toks[pos:pos] = p[at:at + 3]
            docs.append({"text": " ".join(toks), "fate": fate, "lang": lang})
        elif fate == "exact_copy":
            base = rng.choice(bases)
            if base.get("kind") == "near":
                continue
            base["kind"] = "exact"
            docs.append({"text": base["text"], "fate": fate, "lang": base["lang"], "group": base["group"]})
        else:  # near_variant: two variants per base
            base = rng.choice(bases)
            if base.get("kind"):
                continue
            base["kind"] = "near"
            for _ in range(2):
                docs.append({"text": base["text"] + " " + content(), "fate": fate,
                             "lang": base["lang"], "group": base["group"]})
    ids = rng.sample(range(1, 10 * len(docs)), len(docs))
    for doc_id, doc in zip(ids, docs):
        doc["id"] = doc_id

    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "corpus.jsonl"), "w") as f:
        for doc in docs:
            f.write(json.dumps({"doc_id": doc["id"], "text": doc["text"]}) + "\n")
    with open(os.path.join(d, "probe.jsonl"), "w") as f:
        for k, p in enumerate(probe):
            f.write(json.dumps({"doc_id": k, "text": " ".join(p)}) + "\n")

    filtered = [doc for doc in docs if doc["fate"] not in ("foreign", "lowq", "repetitive")]
    first_by_text: dict[str, int] = {}
    for doc in filtered:
        first_by_text[doc["text"]] = min(doc["id"], first_by_text.get(doc["text"], doc["id"]))
    deduped = [doc for doc in filtered if first_by_text[doc["text"]] == doc["id"]]
    first_by_group: dict[int, int] = {}
    for doc in deduped:
        if "group" in doc:
            g = doc["group"]
            first_by_group[g] = min(doc["id"], first_by_group.get(g, doc["id"]))
    clustered = [doc for doc in deduped if "group" not in doc or first_by_group[doc["group"]] == doc["id"]]
    clean = [doc for doc in clustered if doc["fate"] != "contaminated"]

    manifest = []
    for lang in LANGUAGES:
        cum_before = 0
        for doc in sorted((x for x in clean if x["lang"] == lang), key=lambda x: x["id"]):
            n = len(doc["text"].split(" "))
            for chunk in range(cum_before // CHUNK_BUDGET, (cum_before + n - 1) // CHUNK_BUDGET + 1):
                manifest.append([lang, str(doc["id"]), str(chunk), str(n), str(cum_before)])
            cum_before += n
    truth = {
        "rows": {"input": len(docs), "filtered": len(filtered), "deduped": len(deduped),
                 "clustered": len(clustered), "clean": len(clean), "manifest": len(manifest)},
        "manifest": manifest,
        "dropped": {
            "language": sorted(x["id"] for x in docs if x["fate"] == "foreign"),
            "contaminated": sorted(x["id"] for x in docs if x["fate"] == "contaminated"),
            "exact_copy": sorted({x["id"] for x in filtered} - {x["id"] for x in deduped}),
        },
    }
    with open(os.path.join(d, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


MANIFEST_COLS = ["lang_guess", "doc_id", "chunk_id", "n_tokens", "cum_before"]


def read_manifest(path: str) -> list[list[str]]:
    with open(path, newline="") as f:
        return [[r[c] for c in MANIFEST_COLS] for r in csv.DictReader(f, delimiter="\t")]


def check_manifest(rows: list[list[str]], stage_rows: dict[str, int], truth: dict) -> list[str]:
    """Compare one pipeline run with its truth: the manifest rows, and
    the survivor count of every pinned stage. Returns the mismatches."""
    errors = []
    got_ids = {int(r[1]) for r in rows}
    for what, ids in truth["dropped"].items():
        leaked = got_ids.intersection(ids)
        if leaked:
            errors.append(f"{len(leaked)} {what} documents survived, e.g. {sorted(leaked)[:3]}")
    # Per-language contiguity: each shard is one gap-free token stream
    # in id order, cut into CHUNK_BUDGET-token chunks.
    by_lang: dict[str, dict[int, list]] = {}
    for lang, doc, chunk, n, before in rows:
        by_lang.setdefault(lang, {}).setdefault(int(doc), []).append((int(chunk), int(n), int(before)))
    for lang, shard in by_lang.items():
        cum = 0
        for doc in sorted(shard):
            chunks = sorted(c for c, _, _ in shard[doc])
            _, n, before = shard[doc][0]
            want = list(range(cum // CHUNK_BUDGET, (cum + n - 1) // CHUNK_BUDGET + 1))
            if before != cum or chunks != want:
                errors.append(f"{lang} shard breaks contiguity at document {doc}")
                break
            cum += n
    if sorted(rows) != sorted(truth["manifest"]):
        errors.append(f"manifest: {len(rows)} rows, want {len(truth['manifest'])}")
    for stage, n in stage_rows.items():
        if n != truth["rows"][stage]:
            errors.append(f"{stage}: {n} rows, want {truth['rows'][stage]}")
    return errors
