"""Seeded input generators. The program under test only ever sees the
files these write.

- :func:`write_af3_tree` renders ``fixtures.make_corpus(seed, scale)`` as
  an AlphaFold3 job tree: per job a summary-confidences JSON, a
  full-data JSON with the PAE matrix, and ``N_MODELS`` model CIFs
  written by ``operators.structures.atoms_to_cif``. One grouped pass over
  each table (the per-job ``pae[pae.job == job]`` filter of
  ``fixtures.write_file_corpus`` is quadratic in the job count).
- :func:`write_documents` writes a synthetic ``documents`` table shaped
  like the repository's test corpus (word-soup text over a small
  vocabulary, four marker-word languages plus an unmarked one, shared
  per-source header segments for the boilerplate stage), expanded with
  id-shifted near-duplicate copies that each append a distinct token.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from process_alphafold3_outputs_spark.fixtures import make_corpus
from process_alphafold3_outputs_spark.operators.structures import atoms_to_cif

#: model CIFs per job, as AlphaFold3 writes by default
N_MODELS = 5

_ATOM_SORT = ["chain_id", "residue_id", "atom_name"]


def _model_atoms(atoms: pd.DataFrame) -> pd.DataFrame:
    """Models 2.. are model 1 shifted by a further 0.05 A each along x.
    Only model 0 feeds the contact screen, so the expected report is the
    one ``make_corpus`` plants."""
    base = atoms[atoms.model_id == 1]
    extra = []
    for k in range(2, N_MODELS):
        m = base.copy()
        m["model_id"] = k
        m["x"] = m["x"] + 0.05 * (k - 1)
        extra.append(m)
    return pd.concat([atoms, *extra], ignore_index=True)


def write_af3_tree(root: str, seed: int, n_jobs: int, scale: int) -> dict:
    """Write the tree under ``root``; return the in-memory corpus (with
    all ``N_MODELS`` models in ``atoms``) for the output checks."""
    corpus = make_corpus(n_jobs=n_jobs, seed=seed, scale=scale)
    corpus["atoms"] = _model_atoms(corpus["atoms"])
    pae_by_job = dict(tuple(corpus["pae_long"].groupby("job", sort=False)))
    atoms_by_job = dict(
        tuple(corpus["atoms"].groupby(["job", "model_id"], sort=False))
    )
    for rec in corpus["predictions"].to_dict("records"):
        job = rec["job"]
        jdir = os.path.join(root, job)
        os.makedirs(jdir, exist_ok=True)
        doc = {k: rec[k] for k in ("iptm", "ptm") if pd.notna(rec[k])}
        doc["chain_pair_pae_min"] = [list(r) for r in rec["chain_pair_pae_min"]]
        with open(os.path.join(jdir, f"{job}_summary_confidences_0.json"), "w") as fh:
            json.dump(doc, fh)

        jp = pae_by_job[job]
        n = int(jp.aligned_token.max()) + 1
        mat = np.zeros((n, n))
        mat[jp.scored_token.to_numpy(), jp.aligned_token.to_numpy()] = jp.pae.to_numpy()
        with open(os.path.join(jdir, f"{job}_full_data_0.json"), "w") as fh:
            json.dump(
                {"pae": np.round(mat, 2).tolist(),
                 "token_res_ids": list(range(1, n + 1))},
                fh,
            )

        for k in range(N_MODELS):
            rows = atoms_by_job[(job, k)].sort_values(_ATOM_SORT)
            with open(os.path.join(jdir, f"{job}_model_{k}.cif"), "w") as fh:
                fh.write(atoms_to_cif(f"{job}_model_{k}", rows.to_dict("records")))
    return corpus


_VOCAB = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join vector customer"
).split()
_MARKERS = {
    "en": ("the", "and", "of", "is", "to"),
    "de": ("der", "und", "die", "nicht", "ist"),
    "es": ("el", "la", "de", "que", "es"),
    "fr": ("le", "et", "les", "des", "est"),
    "zh": (),
}
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
#: one 8-word header per source (the curation stage's segment length),
#: prepended to a fifth of the documents
_N_SOURCES = 20
_HEADER_WORDS = 8


def make_documents(seed: int, n_base: int, copies: int) -> pd.DataFrame:
    """``n_base`` documents plus ``copies - 1`` near-duplicate copies of
    each (doc_id shifted by ``i * 10_000_000``, `` probecopy{i}``
    appended to the text). Language and header shares are exact, not
    drawn, so every seed yields the same number of surviving documents
    give or take the near-duplicate drops."""
    rng = np.random.RandomState(seed)
    vocab = np.array(_VOCAB)
    headers = [
        " ".join(rng.choice(vocab, _HEADER_WORDS)) for _ in range(_N_SOURCES)
    ]
    counts = np.floor(np.array(_LANG_P) * n_base).astype(int)
    counts[0] += n_base - counts.sum()
    langs = rng.permutation(np.repeat(_LANGS, counts))
    has_header = rng.permutation(np.arange(n_base) < n_base // 5)
    rows = []
    for doc_id, (lang, header) in enumerate(zip(langs, has_header), start=1):
        n = rng.randint(10, 101)
        words = list(rng.choice(vocab, n))
        markers = _MARKERS[lang]
        if markers:
            for pos in rng.choice(n, max(1, n // 7), replace=False):
                words[pos] = markers[rng.randint(len(markers))]
        src = rng.randint(_N_SOURCES)
        if header:
            words = headers[src].split() + words
        text = " ".join(words)
        rows.append((doc_id, text, str(lang), f"src{src}", len(text)))
    base = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    out = [base]
    for i in range(1, copies):
        c = base.copy()
        c["doc_id"] = c["doc_id"] + i * 10_000_000
        c["text"] = c["text"] + f" probecopy{i}"
        c["n_chars"] = c["text"].str.len()
        out.append(c)
    return pd.concat(out, ignore_index=True)


def write_documents(path: str, seed: int, n_base: int, copies: int) -> int:
    """Write ``documents.parquet`` under directory ``path``; return the
    document count."""
    docs = make_documents(seed, n_base, copies)
    os.makedirs(path, exist_ok=True)
    docs.to_parquet(os.path.join(path, "documents.parquet"), index=False)
    return len(docs)
