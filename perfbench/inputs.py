"""Seeded benchmark inputs: document windows, request sequences and url sets.

Everything here is a pure function of the benchmark seed. The engine only
ever sees the pandas/Spark frames and paths built from these values.

Documents come from the repo's synthetic corpus row generator
(`corpus.make_doc`, a pure function of doc number), so every row has the
corpus's Zipf token mix, 20 heavy stopwords, latin-1 and NUL edge rows. The
seed chooses which window of doc numbers a run indexes; queries are drawn
from the same vocabulary with the seed's own generator.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from theoremsearch_spark.corpus import STOPWORDS, make_doc
from theoremsearch_spark.extract import extract_text, tokenize

DOC_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]
WINDOW_STRIDE = 100_000  # doc numbers per window slot; urls keep 8 digits
N_WINDOWS = 900

# Interactive request shapes and their shares of the serve sequence.
SHAPES = ("head_or", "stopword_or", "lang_en_or", "and", "phrase")
SHAPE_P = (0.70, 0.15, 0.05, 0.05, 0.05)
HEAD_RANKS = 500  # head terms: the 500 most frequent corpus terms


@dataclass(frozen=True)
class Request:
    """One interactive single-query request."""

    shape: str
    text: str

    @property
    def kwargs(self) -> dict:
        if self.shape == "lang_en_or":
            return {"filters": ["lang=en"]}
        if self.shape == "and":
            return {"mode": "and"}
        return {}


def window_start(seed: int) -> int:
    """First doc number of the seed's window."""
    return (int(seed) * 2_654_435_761 % N_WINDOWS) * WINDOW_STRIDE


def documents(doc_numbers, marker: str = "") -> pd.DataFrame:
    """Corpus rows for `doc_numbers`; a non-empty `marker` appends that text
    to each page body, giving a changed version of the same url."""
    rows = []
    for n in doc_numbers:
        url, ts, html, text, lang = make_doc(int(n), {})
        if marker:
            html = html.replace(b"</body>", f"<p>{marker}</p></body>".encode())
            text = extract_text(html)
        rows.append((url, ts, html, text, lang))
    return pd.DataFrame(rows, columns=DOC_COLUMNS)


def head_terms(rng: np.random.Generator, n: int) -> list[str]:
    ranks = rng.integers(0, HEAD_RANKS, n)
    return [f"w{r:05d}" for r in ranks]


def phrase_from(rng: np.random.Generator, docs: pd.DataFrame) -> str:
    """2-3 consecutive tokens of a random indexed doc, starting at a
    non-stopword, so the phrase has at least one exact match."""
    while True:
        toks = tokenize(docs["text"].iat[int(rng.integers(0, len(docs)))])
        starts = [i for i in range(len(toks) - 3) if toks[i] not in STOPWORDS]
        if starts:
            i = starts[int(rng.integers(0, len(starts)))]
            return " ".join(toks[i : i + int(rng.integers(2, 4))])


def or_query(rng: np.random.Generator, stopword: bool, n_terms: int | None = None) -> str:
    """2-4 head terms; a stopword-laden query swaps the last for 1-2 stopwords."""
    terms = head_terms(rng, n_terms or int(rng.integers(2, 5)))
    if stopword:
        terms = terms[:-1] + list(rng.choice(STOPWORDS, int(rng.integers(1, 3))))
    return " ".join(terms)


def request(rng: np.random.Generator, docs: pd.DataFrame, shape: str, n_terms: int = 3) -> Request:
    if shape == "phrase":
        return Request(shape, phrase_from(rng, docs))
    if shape == "and":
        return Request(shape, " ".join(head_terms(rng, 2)))
    return Request(shape, or_query(rng, stopword=shape == "stopword_or", n_terms=n_terms))


def bulk_queries(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """A bulk request: `n` OR queries with exactly the serve mix's stopword
    share and equal shares of 2, 3 and 4 terms, so every seed asks for the
    same amount of work."""
    stop = rng.permutation(np.arange(n) < round(n * SHAPE_P[1]))
    sizes = rng.permutation(2 + np.arange(n) % 3)
    texts = [or_query(rng, bool(s), int(k)) for s, k in zip(stop, sizes)]
    return pd.DataFrame({"query_id": np.arange(n, dtype=np.int32), "query_text": texts})


def one_query(text: str, query_id: int = 0) -> pd.DataFrame:
    return pd.DataFrame({"query_id": np.array([query_id], np.int32), "query_text": [text]})
