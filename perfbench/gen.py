"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of its seed and size: the same seed
gives the same inputs, byte for byte.

* ``narrow_corpus`` — the repo's own corpus
  (``sources.corpus.generate_pages``): ~130 lexicon terms.
* ``wide_corpus`` — the same page shape over a coined vocabulary of
  thousands of terms per type, with Zipf head skew on drugs, typo
  surfaces absent from the dictionary, and terms with no dictionary
  row at all. Returns the tagger lexicons and the entity dictionary
  beside the pages and annotations.
* ``with_outlinks`` — pages with ``corpus.add_outlinks``' anchors.
* ``write_page_files`` — pages as numbered parquet files: a corpus
  directory, or the files a file-source stream drains in name order,
  optionally in a seeded arrival order.

Coined terms are consonant/vowel words of one fixed length, all
distinct, so none contains another; a typo form's doubled letter breaks
the alternation, so it contains no other term; and no term or typo form
occurs in the template prose. The gold tagger (``kernels.iob``) takes
the FIRST occurrence of a surface with no word boundaries, so a term
inside prose or inside another term would shift gold spans.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

TERM_LEN = 9
_CONSONANTS = "bcdfghjklmnprstvxz"
_VOWELS = "aeiouy"

TYPO_FRACTION = 0.08
MULTI_PAIR_FRACTION = 0.06
TWO_WORD_FRACTION = 0.2
NO_DICT_FRACTION = 0.15
MEDICAL_SHARE = 0.8
FILLER_EN_SHARE = 0.1

TEMPLATES = [
    "A 63 year old patient developed {effect} after taking {drug}.",
    "Treatment with {drug} caused severe {effect} within two weeks.",
    "{drug} induced {effect} in an elderly patient.",
    "We report a case of {effect} associated with {drug} therapy.",
    "Following administration of {drug}, the patient experienced {effect}.",
    "{effect} was observed (z = 2.27) after {drug} infusion.",
    "The patient's {effect} resolved after {drug} was discontinued.",
    "{drug} was given twice; {drug} later caused {effect}.",
    "High-dose {drug} therapy, started in March, led to {effect}.",
]
MULTI_TEMPLATES = [
    "Both {d1} and {d2} were administered; {d1} caused {e1} "
    "while {d2} produced {e2}.",
    "After starting {d1} and later {d2}, the patient developed {e1} "
    "and subsequently {e2}.",
]
FILLER_EN = [
    "The committee reviewed the quarterly housing report on Tuesday.",
    "Local volunteers planted three hundred trees along the river path.",
    "The museum extended its opening hours for the summer festival.",
    "Engineers completed the bridge inspection ahead of schedule.",
    "A new bakery opened on the corner of Elm Street last week.",
]
FILLER_OTHER = [
    ("de", "Der Gemeinderat hat die neue Satzung am Dienstag beschlossen."),
    ("fr", "Le conseil municipal a adopté le nouveau budget mardi soir."),
]
_PROSE = " ".join(TEMPLATES + MULTI_TEMPLATES + FILLER_EN).lower()


def typo_surface(term: str) -> str:
    """Crawl-noise variant: the middle letter of the first word doubled
    (the class ``sources.corpus.typo_surface`` uses)."""
    first, *rest = term.split(" ")
    mid = len(first) // 2
    return " ".join([first[:mid] + first[mid] + first[mid:]] + rest)


def _coined_words(rng: np.random.RandomState):
    """Distinct consonant/vowel words of TERM_LEN letters; neither a word
    nor its typo form occurs in the template prose. Words of one length
    cannot contain each other, and a typo form's doubled letter breaks
    the alternation, so no typo form contains another word either."""
    seen: set[str] = set()
    while True:
        cs = rng.randint(0, len(_CONSONANTS), size=TERM_LEN)
        vs = rng.randint(0, len(_VOWELS), size=TERM_LEN)
        w = "".join(
            _VOWELS[v] if i % 2 else _CONSONANTS[c]
            for i, (c, v) in enumerate(zip(cs, vs))
        )
        if w in seen or w in _PROSE or typo_surface(w) in _PROSE:
            continue
        seen.add(w)
        yield w


def wide_lexicons(
    seed: int, n_drugs: int, n_effects: int
) -> tuple[list[str], list[str]]:
    """Coined drug and effect terms; a TWO_WORD_FRACTION of each type is
    two words. Every word across both lexicons is distinct."""
    rng = np.random.RandomState(seed)
    words = _coined_words(rng)
    lexicons = []
    for n in (n_drugs, n_effects):
        terms = []
        for _ in range(n):
            w = next(words)
            terms.append(
                f"{w} {next(words)}" if rng.rand() < TWO_WORD_FRACTION else w
            )
        lexicons.append(terms)
    return lexicons[0], lexicons[1]


def _zipf_probs(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1)
    return w / w.sum()


def _annotations(
    n_pages: int,
    drugs: list[str],
    effects: list[str],
    rng: np.random.RandomState,
) -> pd.DataFrame:
    d_probs = _zipf_probs(len(drugs))
    rows = []
    for page_i in range(int(n_pages * MEDICAL_SHARE)):
        url = f"https://example.org/doc/{page_i:08d}"
        for sent_idx in range(1 + rng.randint(0, 4)):
            if rng.rand() < MULTI_PAIR_FRACTION:
                i1, i2 = rng.choice(len(drugs), size=2, replace=False)
                j1, j2 = rng.choice(len(effects), size=2, replace=False)
                d1, d2, e1, e2 = drugs[i1], drugs[i2], effects[j1], effects[j2]
                tpl = MULTI_TEMPLATES[rng.randint(0, len(MULTI_TEMPLATES))]
                text = tpl.format(d1=d1, d2=d2, e1=e1, e2=e2)
                rows.append((url, sent_idx, text, d1, e1))
                rows.append((url, sent_idx, text, d2, e2))
                continue
            drug = drugs[rng.choice(len(drugs), p=d_probs)]
            if rng.rand() < TYPO_FRACTION:
                drug = typo_surface(drug)
            effect = effects[rng.randint(0, len(effects))]
            tpl = TEMPLATES[rng.randint(0, len(TEMPLATES))]
            rows.append(
                (url, sent_idx, tpl.format(drug=drug, effect=effect), drug, effect)
            )
    ann = pd.DataFrame(rows, columns=["url", "sent_idx", "text", "drug", "effect"])
    ann["sent_idx"] = ann["sent_idx"].astype("int32")
    ann["split"] = "test"
    return ann


def _pages_from_annotations(
    n_pages: int, ann: pd.DataFrame, rng: np.random.RandomState
) -> pd.DataFrame:
    page_text = (
        ann.drop_duplicates(["url", "sent_idx"])
        .sort_values(["url", "sent_idx"])
        .groupby("url")["text"]
        .agg(" ".join)
    )
    n_medical = int(n_pages * MEDICAL_SHARE)
    n_filler_en = int(n_pages * FILLER_EN_SHARE)
    texts, langs = [], []
    for i in range(n_pages):
        url = f"https://example.org/doc/{i:08d}"
        if i < n_medical:
            texts.append(page_text.get(url, FILLER_EN[i % len(FILLER_EN)]))
            langs.append("en")
        elif i < n_medical + n_filler_en:
            texts.append(FILLER_EN[rng.randint(0, len(FILLER_EN))])
            langs.append("en")
        else:
            lang, text = FILLER_OTHER[rng.randint(0, len(FILLER_OTHER))]
            texts.append(text)
            langs.append(lang)
    return pd.DataFrame(
        {
            "url": [f"https://example.org/doc/{i:08d}" for i in range(n_pages)],
            "warc_ts": (
                pd.Timestamp("2024-01-01T00:00:00")
                + pd.to_timedelta(np.arange(n_pages), unit="s")
            ).astype("datetime64[us]"),
            "html": [
                b"<html><body><p>" + t.encode("utf-8") + b"</p></body></html>"
                for t in texts
            ],
            "text": texts,
            "lang": langs,
        }
    )


def entity_dictionary(
    drugs: list[str], effects: list[str], seed: int
) -> pd.DataFrame:
    """alias -> canonical rows: canonical form, hyphen variant and a
    char-swap typo per term; NO_DICT_FRACTION of terms get no row."""
    rng = np.random.RandomState(seed + 1)
    rows = []
    cid = 0
    for etype, lexicon in (("DRUG", drugs), ("EFFECT", effects)):
        for term in lexicon:
            cid += 1
            if rng.rand() < NO_DICT_FRACTION:
                continue
            aliases = {term, term.replace(" ", "-")}
            i = 1 + rng.randint(0, len(term) - 3)
            aliases.add(term[:i] + term[i + 1] + term[i] + term[i + 2 :])
            rows.extend((a, cid, term, etype) for a in sorted(aliases))
    return pd.DataFrame(
        rows, columns=["alias", "canonical_id", "canonical_name", "entity_type"]
    ).astype({"canonical_id": "int64"})


def wide_corpus(
    n_pages: int, seed: int, n_drugs: int = 3000, n_effects: int = 3000
) -> dict:
    """Wide-vocabulary corpus: pages, annotations, dictionary and the
    tagger lexicons (terms plus the drug typo class, which the NER
    stand-in generalizes to and the dictionary lacks)."""
    drugs, effects = wide_lexicons(seed, n_drugs, n_effects)
    rng = np.random.RandomState(seed + 2)
    ann = _annotations(n_pages, drugs, effects, rng)
    return {
        "pages": _pages_from_annotations(n_pages, ann, rng),
        "annotations": ann,
        "dictionary": entity_dictionary(drugs, effects, seed),
        "tagger_drugs": drugs + [typo_surface(d) for d in drugs],
        "tagger_effects": effects,
    }


def narrow_corpus(n_pages: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    from remediner_spark.sources.corpus import generate_pages

    return generate_pages(n_pages, seed)


def with_outlinks(pages: pd.DataFrame) -> pd.DataFrame:
    """Each page's html with ``<a href>`` outlinks to other pages; the
    anchors carry no text, so extracted text is unchanged."""
    from remediner_spark.sources.corpus import add_outlinks

    return add_outlinks(pages)


def write_page_files(
    pages: pd.DataFrame, out_dir: str, n_files: int, seed: int | None = None
) -> list[str]:
    """Pages as ``n_files`` parquet files named in arrival order; with
    ``seed``, pages arrive in a seeded random order rather than by
    index (the corpus puts its non-medical pages last)."""
    os.makedirs(out_dir, exist_ok=True)
    order = np.arange(len(pages))
    if seed is not None:
        order = np.random.RandomState(seed).permutation(order)
    paths = []
    for i, chunk in enumerate(np.array_split(order, n_files)):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pages.iloc[chunk].to_parquet(path, index=False)
        paths.append(path)
    return paths
