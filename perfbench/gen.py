"""Seeded input generators for the perfbench workloads.

Every input the program sees is made here from the ``--seed`` argument and
nothing else: the same seed gives byte-identical files and the same input
hash.  The generators write plain files (parquet via pyarrow, JSONL via
the standard library); the benchmark hands the program only these files.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Stopword lists the text generator mixes into each language's documents,
# so a stopword-ratio language id can tell the languages apart.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ich", "mit", "ein", "zu", "nicht"),
    "fr": ("le", "la", "les", "et", "un", "une", "est", "pas", "pour", "que"),
    "es": ("el", "los", "las", "y", "un", "una", "es", "no", "por", "con"),
}
LANGS = tuple(STOPWORDS)
_SYLLABLES = (
    "ka", "ri", "mo", "te", "lu", "san", "vo", "pel", "dra", "qui",
    "nor", "bi", "ze", "fa", "gon", "tri", "hu", "mel", "ost", "ya",
)


class InputHash:
    """Running sha256 over every generated input, in generation order."""

    def __init__(self) -> None:
        self._h = hashlib.sha256()
        self.bytes = 0

    def add(self, data: bytes) -> None:
        self._h.update(data)
        self.bytes += len(data)

    def add_file(self, path: str) -> None:
        with open(path, "rb") as fh:
            self.add(fh.read())

    def hexdigest(self) -> str:
        return self._h.hexdigest()[:16]


def clustered_vectors(rng: np.random.Generator, n: int, dim: int, centers: int) -> np.ndarray:
    """``n`` float32 vectors around ``centers`` Gaussian centres: the
    clustered shape IVF and PQ indexes are built for."""
    c = rng.standard_normal((centers, dim)).astype(np.float32)
    pick = rng.integers(0, centers, n)
    return (c[pick] + 0.6 * rng.standard_normal((n, dim))).astype(np.float32)


def _vector_array(v: np.ndarray) -> pa.Array:
    flat = pa.array(v.astype(np.float32).ravel())
    return pa.FixedSizeListArray.from_arrays(flat, v.shape[1]).cast(pa.list_(pa.float32()))


def write_vector_rows(path: str, post_ids: np.ndarray, seq: np.ndarray, v: np.ndarray,
                      ids: np.ndarray, h: InputHash) -> None:
    """Chunk vectors as (id, post_id, sequence_no, vector) parquet."""
    cols = {"id": pa.array(ids.astype(np.int64))}
    cols["post_id"] = pa.array(post_ids.astype(np.int64))
    cols["sequence_no"] = pa.array(seq.astype(np.int32))
    cols["vector"] = _vector_array(v)
    pq.write_table(pa.table(cols), path)
    h.add(v.tobytes())
    h.add(post_ids.astype(np.int64).tobytes())


def write_queries(path: str, q: np.ndarray, h: InputHash) -> None:
    """A query batch as (query_id, query_vector) parquet."""
    pq.write_table(pa.table({"query_id": pa.array(np.arange(len(q), dtype=np.int32)),
                             "query_vector": _vector_array(q)}), path)
    h.add(q.tobytes())


def write_documents(path: str, post_ids: np.ndarray, langs: list[str], rng: np.random.Generator,
                    h: InputHash) -> None:
    """The ``documents`` table the EAV filter reads: one row per post."""
    sources = [f"src{int(s)}" for s in rng.integers(0, 5, len(post_ids))]
    n_chars = rng.integers(200, 4000, len(post_ids)).astype(np.int64)
    pq.write_table(
        pa.table({
            "post_id": pa.array(post_ids.astype(np.int64)),
            "lang": pa.array(langs),
            "source": pa.array(sources),
            "n_chars": pa.array(n_chars),
        }),
        path,
    )
    h.add(json.dumps([langs, sources, n_chars.tolist()]).encode())


class TextGen:
    """Synthetic multilingual documents: Zipf-distributed content words
    from a shared vocabulary plus each language's stopwords."""

    def __init__(self, rng: np.random.Generator, vocab: int = 6000) -> None:
        self.rng = rng
        words = set()
        while len(words) < vocab:
            k = int(rng.integers(2, 5))
            words.add("".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k)))
        self.vocab = sorted(words)
        p = 1.0 / np.arange(1, vocab + 1) ** 1.05
        self.p = p / p.sum()

    def tokens(self, lang: str, n: int) -> list[str]:
        content = self.rng.choice(len(self.vocab), size=n, p=self.p)
        stop = STOPWORDS[lang]
        is_stop = self.rng.random(n) < 0.3
        stops = self.rng.integers(0, len(stop), n)
        return [stop[s] if f else self.vocab[c] for c, f, s in zip(content, is_stop, stops)]

    def doc(self, lang: str, lo: int = 60, hi: int = 160) -> list[str]:
        return self.tokens(lang, int(self.rng.integers(lo, hi)))

    def perturb(self, toks: list[str], lang: str, every: int = 50) -> list[str]:
        """A near duplicate: one token in ``every`` replaced."""
        out = list(toks)
        for i in range(0, len(out), every):
            j = min(len(out) - 1, i + int(self.rng.integers(0, every)))
            out[j] = self.tokens(lang, 1)[0]
        return out


def write_jsonl(path: str, rows: list[dict], h: InputHash, malformed: list[str] = ()) -> None:
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r, separators=(",", ":")) + "\n")
        for line in malformed:
            fh.write(line + "\n")
    h.add_file(path)
