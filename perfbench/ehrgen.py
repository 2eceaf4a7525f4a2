"""Seeded generator for the entry-level EHR table (FIXTURES.md section 1).

Writes a ``;``-separated CSV with header ``PATNR;annotation;text``:

- ``PATNR`` is a double written like ``474.0``; each patient has 1-5
  entries (about 3 on average, as in the reference's dummy data);
- ``annotation`` is ``TRUE``/``FALSE``, constant per patient, about
  half the patients positive;
- ``text`` is lowercase Dutch-like clinical free text. Content words
  follow a Zipf law over a fixed synthetic vocabulary, mixed with
  Dutch stopwords and a few class-associated clinical terms. An RA
  target (``ra``, ``reumatoide artritis``, ``rheumatoid arthritis``)
  appears in about 60% of positive entries and 5% of negative ones.
  Mojibake (``ã«``, ``\\t``, ``\\xa0``, ...), punctuation and digits are
  sprinkled in so the artefact fix and cleaning steps have work to do.

Line breaks (``\\r``, ``\\n``) and the CSV's own separator and quote
character are never written: the reader parses one entry per line.

The vocabulary is the same for every seed; the seed only drives the
draws, so one seed always gives the same bytes.
"""

from __future__ import annotations

import numpy as np

# Content vocabulary: sized so that 668 patients give a 1-3-gram
# TF-IDF vocabulary of the same order as the reference's 36,907 terms.
VOCAB_SIZE = 12000
ZIPF_S = 1.05
_VOCAB_SEED = 20190626

_SYLLABLES = (
    "ba be bi bo bu da de di do du ka ke ki ko ku la le li lo lu ma me mi mo "
    "mu na ne ni no nu pa pe pi po pu ra re ri ro ru sa se si so su ta te ti "
    "to tu va ve vi vo vu za ze zo ar er or ur en in on an el al ol ig ing "
    "heid lijk sch str tr kr gr pr br vl gl"
).split()
_STOPWORDS = (
    "de en van het een in is op met voor niet bij er ook dat die aan als "
    "maar om dan door over tot uit naar zijn was"
).split()
# Terms a classifier can learn from: (positive rate, negative rate).
_CLINICAL = {
    "mtx": (0.30, 0.03), "acpa": (0.25, 0.02), "synovitis": (0.25, 0.05),
    "gewrichtspijn": (0.35, 0.15), "ochtendstijfheid": (0.25, 0.06),
    "zwelling": (0.30, 0.15), "artrose": (0.05, 0.25), "jicht": (0.03, 0.15),
    "prednison": (0.15, 0.08), "echo": (0.15, 0.15), "bloedonderzoek": (0.2, 0.2),
}
_RA_TARGETS = ("ra", "reumatoide artritis", "rheumatoid arthritis")
_MOJIBAKE = ("ã«", "ã¨", "ã¶", "ã©", "ã¯", "\t", "\xa0", "·")
_PUNCT = "!#,.:@-+\\/&=$][<>'^*`’()"
_ENTRIES_PER_PATIENT = (1, 2, 3, 4, 5)
_ENTRY_WEIGHTS = (0.15, 0.25, 0.25, 0.2, 0.15)


def _vocabulary() -> list[str]:
    rng = np.random.default_rng(_VOCAB_SEED)
    words: list[str] = []
    seen = set(_STOPWORDS) | set(_CLINICAL) | {"ra", "reumatoide", "artritis"}
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


_VOCAB_ARR = np.array(_vocabulary(), dtype=object)
_ZIPF_CDF = np.cumsum(1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S)
_ZIPF_CDF /= _ZIPF_CDF[-1]
_CLIN_TERMS = np.array(list(_CLINICAL), dtype=object)
_CLIN_P = np.array(list(_CLINICAL.values()))  # columns: positive, negative
_STOP_ARR = np.array(_STOPWORDS, dtype=object)
_TARGET_ARR = np.array(_RA_TARGETS, dtype=object)


def generate_entries(seed: int, n_patients: int) -> str:
    """Return the CSV text (header included) for ``n_patients`` patients."""
    rng = np.random.default_rng(seed)
    ids = rng.choice(10 * n_patients, size=n_patients, replace=False) + 1
    labels = rng.random(n_patients) < 0.5
    counts = rng.choice(_ENTRIES_PER_PATIENT, size=n_patients, p=_ENTRY_WEIGHTS)
    pid = np.repeat(ids, counts)
    pos = np.repeat(labels, counts)
    n = len(pid)

    # Every entry's tokens, kind by kind, each tagged with its entry.
    n_content = rng.integers(4, 14, n)
    content = _VOCAB_ARR[np.searchsorted(_ZIPF_CDF, rng.random(n_content.sum()))]
    n_stop = rng.integers(1, 5, n)
    stops = _STOP_ARR[rng.integers(0, len(_STOP_ARR), n_stop.sum())]
    clin_hit = rng.random((n, len(_CLIN_TERMS))) < np.where(pos[:, None], _CLIN_P[:, 0], _CLIN_P[:, 1])
    clin_entry, clin_term = np.nonzero(clin_hit)
    target_hit = rng.random(n) < np.where(pos, 0.6, 0.05)
    targets = _TARGET_ARR[rng.integers(0, len(_TARGET_ARR), n)][target_hit]
    dose_hit = rng.random(n) < 0.2
    doses = np.array([f"{v}mg" for v in rng.integers(1, 500, n)], dtype=object)[dose_hit]

    tokens = np.concatenate([content, stops, _CLIN_TERMS[clin_term], targets, doses])
    entry = np.concatenate([
        np.repeat(np.arange(n), n_content),
        np.repeat(np.arange(n), n_stop),
        clin_entry,
        np.nonzero(target_hit)[0],
        np.nonzero(dose_hit)[0],
    ])
    # Shuffle tokens within each entry; then sprinkle punctuation and mojibake.
    order = np.lexsort((rng.random(len(tokens)), entry))
    tokens, entry = tokens[order], entry[order]
    punct_at = np.nonzero(rng.random(len(tokens)) < 0.1)[0]
    punct = rng.integers(0, len(_PUNCT), len(punct_at))
    moji_at = np.nonzero(rng.random(len(tokens)) < 0.015)[0]
    moji = rng.integers(0, len(_MOJIBAKE), len(moji_at))
    cuts = rng.random(len(moji_at))
    for i, p in zip(punct_at.tolist(), punct.tolist()):
        tokens[i] += _PUNCT[p]
    for i, m, c in zip(moji_at.tolist(), moji.tolist(), cuts.tolist()):
        w = tokens[i]
        k = int(c * (len(w) + 1))
        tokens[i] = w[:k] + _MOJIBAKE[m] + w[k:]

    bounds = np.searchsorted(entry, np.arange(n + 1)).tolist()
    tok = tokens.tolist()
    flags = np.where(pos, "TRUE", "FALSE").tolist()
    rows = [
        f"{p}.0;{flag};{' '.join(tok[a:b])}\n"
        for p, flag, a, b in zip(pid.tolist(), flags, bounds[:-1], bounds[1:])
    ]
    return "PATNR;annotation;text\n" + "".join(rows[i] for i in rng.permutation(n))


def write_entries(path: str, seed: int, n_patients: int) -> int:
    """Write the CSV to ``path``; return the number of entries written."""
    text = generate_entries(seed, n_patients)
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(text)
    return text.count("\n") - 1
