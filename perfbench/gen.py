"""Seeded input generators for the benchmark.

Everything here is numpy/pyarrow only: the program under test never
produces its own inputs, and every planted property (dirt counts,
duplicate sets, near-duplicate Jaccard, contamination, ground-truth
vectors) is recorded by the generator so the checks in ``checks.py`` can
compare the program's output against it.

The same seed always yields byte-identical files. Files are cached per
(kind, size, seed) under the work directory, so a re-run with a seed it
has already seen skips generation.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np

# --------------------------------------------------------------------------
# Medicare-shaped dirty CSV (reference_features)
# --------------------------------------------------------------------------

MEDICARE_ROWS = 733_917  # the paper's table (PAPER.md)

MEDICARE_COLUMNS = [
    "npi", "nppes_provider_last_org_name", "nppes_provider_first_name",
    "nppes_provider_mi", "nppes_credentials", "nppes_provider_gender",
    "nppes_entity_code", "nppes_provider_street1", "nppes_provider_street2",
    "nppes_provider_city", "nppes_provider_zip", "nppes_provider_state",
    "nppes_provider_country", "provider_type",
    "medicare_participation_indicator", "places_of_service", "hcpcs_code",
    "hcpcs_desc", "hcpcs_drug_indicator", "line_srvc_cnt", "bene_unique_cnt",
    "bene_day_srvc_cnt", "average_Medicare_allowed_amt",
    "average_submitted_chrg_amt", "stdev_submitted_chrg_amt",
    "average_Medicare_payment_amt", "stdev_Medicare_payment_amt",
]
MONEY_COLUMNS = MEDICARE_COLUMNS[22:]
COUNT_COLUMNS = ["line_srvc_cnt", "bene_unique_cnt", "bene_day_srvc_cnt"]

_SURNAMES = np.array(["SMITH", "JONES", "GARCIA", "CHEN", "PATEL", "MILLER",
                      "NGUYEN", "KOWALSKI", "OKAFOR", "SILVA"])
_FIRST = np.array(["JOHN", "MARY", "WEI", "ANA", "RAVI", "SARA", "OMAR",
                   "LENA"])
_CREDS = np.array(["MD", "M.D.", "PT", "DO", "O.D.", ""])
PROVIDER_TYPES = np.array(["Internal Medicine", "Obstetrics/Gynecology",
                   "General Practice", "Diagnostic Radiology",
                   "Physical Therapist", "Cardiology", "Dermatology"])
# quoted commas and embedded quotes: the reference's CSV framing dirt
_DESCS = np.array([
    "Office/outpatient visit est",
    'Screening papanicolaou smear; obtaining, preparing and conveyance "x"',
    "Injection, epidural, lumbar/sacral",
    "Ultrasound exam, abdominal, complete",
    'Blood count; "complete" (CBC), automated',
])
_STATES = np.array(["NY", "CA", "TX", "FL", "WA", "IL", "OH", "GA"])
#: invalid HCPCS codes (fail ``^[A-Z0-9]\d{3}[A-Z0-9]$``); "" reads as NULL
BAD_HCPCS = ["9921", "q0091", "ABCDE1", "", "99x13"]
HCPCS_PATTERN = r"^([A-Z0-9]\d{3}[A-Z0-9])$"
COUNT_PATTERN = r"^(\d+)$"
N_CODES = 4000  # distinct valid HCPCS codes, Zipf-popular
TRAILER = '"Copyright 2014 CMS-like fixture. All rights reserved."'
TRUNCATED_FIELDS = 10  # a truncated line keeps only its first 10 fields


@dataclass(frozen=True)
class MedicareSpec:
    """Input properties the reference chain depends on."""

    rows: int = MEDICARE_ROWS
    empty_npi_frac: float = 0.005
    bad_hcpcs_frac: float = 0.05
    padded_count_frac: float = 0.10
    truncated_frac: float = 0.001
    code_zipf_s: float = 1.05


def _pick(rng, n: int, frac: float, exclude=None) -> np.ndarray:
    """Exactly ``round(frac * n)`` distinct row indices."""
    pool = np.arange(n) if exclude is None else np.setdiff1d(np.arange(n), exclude)
    k = int(round(frac * n))
    return np.sort(rng.choice(pool, size=k, replace=False))


def _zipf_probs(n: int, s: float, q: float = 2.7) -> np.ndarray:
    p = 1.0 / (np.arange(n) + 1 + q) ** s
    return p / p.sum()


def write_medicare(spec: MedicareSpec, seed: int, out_dir: str) -> dict:
    """Write ``out_dir/csv/part-00000.csv`` (dirty) and
    ``out_dir/truth.parquet`` (clean typed values of the well-formed rows)
    and return the planted facts."""
    import pyarrow as pa
    import pyarrow.csv as pacsv
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 1])
    n = spec.rows
    providers = rng.integers(10**9, 10**10 - 1, size=max(n // 5, 1))
    npi = providers[rng.integers(0, providers.size, size=n)].astype(str)
    empty_npi = _pick(rng, n, spec.empty_npi_frac)
    npi[empty_npi] = ""

    leads = np.array(list("GQJ9"))
    tails = np.array(list("0123456789TU"))
    code_table = np.char.add(
        np.char.add(leads[rng.integers(0, 4, N_CODES)],
                    np.char.zfill(rng.integers(0, 1000, N_CODES).astype(str), 3)),
        tails[rng.integers(0, 12, N_CODES)],
    )
    code_idx = rng.choice(N_CODES, size=n, p=_zipf_probs(N_CODES, spec.code_zipf_s))
    hcpcs = code_table[code_idx].astype(object)
    bad_rows = _pick(rng, n, spec.bad_hcpcs_frac)
    bad_vals = np.array(BAD_HCPCS, dtype=object)[
        rng.integers(0, len(BAD_HCPCS), bad_rows.size)]
    hcpcs[bad_rows] = bad_vals

    srvc = (rng.lognormal(2.5, 1.0, n)).astype(np.int64) + 1
    bene = (rng.random(n) * srvc).astype(np.int64) + 1
    bene_day = (rng.random(n) * srvc).astype(np.int64) + 1
    srvc_s = srvc.astype(str).astype(object)
    padded = _pick(rng, n, spec.padded_count_frac)
    srvc_s[padded] = np.char.add(np.char.add(" ", srvc[padded].astype(str)), " ")
    # integer cents: cents / 100 is the double nearest the printed
    # decimal, exactly what a correct string -> double cast yields
    cents = {}
    for c, (lo, hi) in zip(MONEY_COLUMNS, [(10, 500), (20, 900), (0, 100),
                                           (5, 400), (0, 80)]):
        cents[c] = rng.integers(lo * 100, hi * 100, n)

    def fmt_money(v: np.ndarray) -> list:
        return [f"${x // 100:,}.{x % 100:02d}" for x in v.tolist()]

    def choice(arr) -> np.ndarray:
        return arr[rng.integers(0, len(arr), n)]

    mi = np.where(rng.random(n) < 0.4, choice(np.array(list("ABCDEF"))), "")
    street2 = np.where(rng.random(n) < 0.9, "",
                       np.char.add("SUITE ", rng.integers(1, 99, n).astype(str)))
    cols = {
        "npi": npi,
        "nppes_provider_last_org_name": choice(_SURNAMES),
        "nppes_provider_first_name": choice(_FIRST),
        "nppes_provider_mi": mi,
        "nppes_credentials": choice(_CREDS),
        "nppes_provider_gender": choice(np.array(["M", "F", ""])),
        "nppes_entity_code": choice(np.array(["I", "O"])),
        "nppes_provider_street1": np.char.add(
            rng.integers(1, 9999, n).astype(str), " MAIN ST"),
        "nppes_provider_street2": street2,
        "nppes_provider_city": np.full(n, "SPRINGFIELD"),
        "nppes_provider_zip": rng.integers(10**8, 10**9 - 1, n).astype(str),
        "nppes_provider_state": choice(_STATES),
        "nppes_provider_country": np.full(n, "US"),
        "provider_type": choice(PROVIDER_TYPES),
        "medicare_participation_indicator": choice(np.array(["Y", "N"])),
        "places_of_service": choice(np.array(["O", "F"])),
        "hcpcs_code": hcpcs,
        "hcpcs_desc": choice(_DESCS),
        "hcpcs_drug_indicator": choice(np.array(["Y", "N", " N "])),
        "line_srvc_cnt": srvc_s,
        "bene_unique_cnt": bene.astype(str),
        "bene_day_srvc_cnt": bene_day.astype(str),
    }
    for c in MONEY_COLUMNS:
        cols[c] = fmt_money(cents[c])

    n_trunc = int(round(spec.truncated_frac * n))
    trunc_src = rng.integers(0, n, n_trunc)
    os.makedirs(os.path.join(out_dir, "csv"), exist_ok=True)
    csv_path = os.path.join(out_dir, "csv", "part-00000.csv")
    table = pa.table({c: pa.array(list(cols[c]) if isinstance(cols[c], list)
                                  else cols[c].tolist(), pa.string())
                      for c in MEDICARE_COLUMNS})
    pacsv.write_csv(table, csv_path)
    # framing dirt appended verbatim: short (truncated) lines whose npi
    # is never empty, then the copyright trailer riding inside the data
    with open(csv_path, "a") as f:
        for i in trunc_src.tolist():
            npi_i = npi[i] or str(providers[0])
            f.write(",".join([npi_i] + [cols[c][i] for c in
                                        MEDICARE_COLUMNS[1:TRUNCATED_FIELDS]]))
            f.write("\n")
        f.write(TRAILER + "\n")

    codes = [v if v != "" else None for v in hcpcs.tolist()]
    truth = {"hcpcs_code": pa.array(codes, pa.string())}
    for c in MONEY_COLUMNS:
        truth[c] = cents[c] / 100.0
    truth["line_srvc_cnt"] = srvc
    truth["bene_unique_cnt"] = bene
    truth["bene_day_srvc_cnt"] = bene_day
    pq.write_table(pa.table(truth), os.path.join(out_dir, "truth.parquet"))

    bad_counts: dict[str, int] = {}
    for v in bad_vals.tolist():
        key = v if v != "" else None
        bad_counts[json.dumps(key)] = bad_counts.get(json.dumps(key), 0) + 1
    framing = n_trunc + 1
    # NULL hcpcs rows: planted "" codes, truncated lines, the trailer
    null_key = json.dumps(None)
    bad_counts[null_key] = bad_counts.get(null_key, 0) + framing
    values, counts = np.unique(
        np.array([v for v in codes if v is not None]), return_counts=True)
    order = np.lexsort((values, -counts))
    return {
        "spec": asdict(spec),
        "csv_rows": n + framing,
        "well_formed_rows": n,
        "failed": {
            "npi_present": int(empty_npi.size),
            "hcpcs_valid": int(bad_rows.size) + framing,
            "well_formed": framing,
            "srvc_unpadded": int(padded.size) + framing,
        },
        "invalid_hcpcs_counts": bad_counts,
        # exact 10 most frequent non-NULL codes (count desc, code asc)
        "top_codes": values[order[:10]].tolist(),
    }


# --------------------------------------------------------------------------
# Synthetic web corpus (search_ingest)
# --------------------------------------------------------------------------

STOPWORDS = ["the", "of", "and", "to", "with", "that", "have", "be"]
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass(frozen=True)
class CorpusSpec:
    """Input properties the curation, dedup and search layers depend on."""

    docs: int = 6000
    vocab: int = 20_000
    zipf_s: float = 1.1
    doc_words_median: int = 140
    doc_words_sigma: float = 0.5  # lognormal spread of doc length
    para_words: int = 45
    exact_dup_frac: float = 0.04
    near_dup_frac: float = 0.04
    near_dup_jaccard: tuple = (0.75, 0.92)  # planted 3-shingle Jaccard range
    junk_frac: float = 0.02  # fails the Gopher word gates
    boilerplate_frac: float = 0.12  # docs carrying a shared paragraph
    span_frac: float = 0.10  # docs carrying a shared inline span
    pii_frac: float = 0.05
    contaminated_frac: float = 0.01
    benchmark_passages: int = 20  # unplanted eval passages
    dim: int = 64  # vector width (search_ingest)
    clusters: int = 32


def _vocab(rng, n: int) -> np.ndarray:
    lens = rng.integers(3, 10, n * 2)
    words = set(STOPWORDS)
    out = list(STOPWORDS)
    letters = rng.integers(0, 26, (n * 2, 10))
    for ln, row in zip(lens.tolist(), letters):
        w = "".join(_LETTERS[row[:ln]])
        if w not in words:
            words.add(w)
            out.append(w)
            if len(out) == n:
                break
    return np.array(out, dtype=object)


def _shingles(words: list, k: int = 3) -> set:
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def jaccard3(a: str, b: str) -> float:
    sa, sb = _shingles(a.split()), _shingles(b.split())
    return len(sa & sb) / max(1, len(sa | sb))


def build_corpus(spec: CorpusSpec, seed: int) -> dict:
    """Return the corpus as python lists plus every planted fact.

    Ids 0..U-1 are the original docs; planted copies (exact and near)
    come after them, so the lower-id survivor rule always keeps the
    original."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, spec.vocab)
    probs = _zipf_probs(spec.vocab, spec.zipf_s)
    tail = vocab[spec.vocab // 2:]

    n_copies = int(round(spec.docs * (spec.exact_dup_frac + spec.near_dup_frac)))
    n_orig = spec.docs - n_copies
    lengths = np.clip(
        rng.lognormal(np.log(spec.doc_words_median), spec.doc_words_sigma, n_orig),
        60, 1500).astype(int)
    draws = rng.choice(spec.vocab, size=int(lengths.sum()), p=probs)
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    paras: list[list[list[str]]] = []
    for i in range(n_orig):
        words = vocab[draws[offsets[i]:offsets[i + 1]]].tolist()
        cut = list(range(0, len(words), spec.para_words))
        paras.append([words[c:c + spec.para_words] for c in cut])

    orig_ids = np.arange(n_orig)
    junk = _pick(rng, n_orig, spec.junk_frac)
    special = set(junk.tolist())
    contaminated = _pick(rng, n_orig, spec.contaminated_frac,
                         np.array(sorted(special)))
    special |= set(contaminated.tolist())
    # plain originals: eligible as dup sources
    plain = np.setdiff1d(orig_ids, np.array(sorted(special)))
    boiler_docs = set(rng.choice(plain, int(round(spec.boilerplate_frac * n_orig)),
                                 replace=False).tolist())
    span_docs = set(rng.choice(plain, int(round(spec.span_frac * n_orig)),
                               replace=False).tolist())
    pii_docs = set(rng.choice(plain, int(round(spec.pii_frac * n_orig)),
                              replace=False).tolist())
    dup_pool = np.array(sorted(set(plain.tolist()) - boiler_docs - span_docs
                               - pii_docs))

    boilerplate = [" ".join(rng.choice(vocab[:2000], 40).tolist()) + " ."
                   for _ in range(8)]
    spans = ["subscribe to the weekly digest of " + " ".join(
        rng.choice(tail, 12).tolist()) for _ in range(6)]
    # one passage per contaminated doc, so no two docs share a planted
    # span (span dedup would otherwise cut the later copy first)
    passages = [" ".join(rng.choice(tail, 40).tolist())
                for _ in range(contaminated.size + spec.benchmark_passages)]

    texts: list[str] = []
    for i in range(n_orig):
        ps = [list(p) for p in paras[i]]
        if i in junk:
            texts.append("### buy now ... ### " + " ".join(ps[0][:8]))
            continue
        if i in span_docs:
            p = ps[0]
            p[len(p) // 2:len(p) // 2] = spans[int(rng.integers(0, len(spans)))].split()
        if i in pii_docs:
            p = ps[-1]
            p.insert(len(p) // 2, f"user{int(rng.integers(0, 10**6))}@example.com")
        if i in contaminated:
            p = ps[0]
            pw = passages[int(np.searchsorted(contaminated, i))].split()
            start = int(rng.integers(0, len(pw) - 20))
            p[1:1] = pw[start:start + 20]
        lines = [" ".join(p) for p in ps]
        if i in boiler_docs:
            lines.append(boilerplate[int(rng.integers(0, len(boilerplate)))])
        texts.append("\n".join(lines))

    n_exact = int(round(spec.docs * spec.exact_dup_frac))
    n_near = n_copies - n_exact
    sources = rng.choice(dup_pool, n_copies, replace=False)
    exact_pairs, near_pairs = [], []
    for j, src in enumerate(sources.tolist()):
        new_id = n_orig + j
        if j < n_exact:
            texts.append(texts[src])
            exact_pairs.append((src, new_id))
            continue
        target = rng.uniform(*spec.near_dup_jaccard)
        # shingle survival s = 2J/(1+J); substitute q of the words, at
        # least one per paragraph so no paragraph is shared verbatim
        q = 1.0 - (2 * target / (1 + target)) ** (1 / 3)
        new_paras = []
        for p in paras[src]:
            p = list(p)
            k = max(1, int(round(q * len(p))))
            for pos in rng.choice(len(p), min(k, len(p)), replace=False).tolist():
                p[pos] = str(tail[int(rng.integers(0, tail.size))])
            new_paras.append(" ".join(p))
        texts.append("\n".join(new_paras))
        near_pairs.append((src, new_id, round(jaccard3(texts[src], texts[-1]), 4)))

    return {
        "texts": texts,
        "vocab": vocab,
        "probs": probs,
        "orig": n_orig,
        "junk": junk.tolist(),
        "contaminated": contaminated.tolist(),
        "exact_pairs": exact_pairs,
        "near_pairs": near_pairs,
        "boilerplate_docs": sorted(boiler_docs),
        "span_docs": sorted(span_docs),
        "pii_docs": sorted(pii_docs),
        "passages": passages,
    }


def corpus_facts(spec: CorpusSpec, corpus: dict) -> dict:
    """The recorded input properties: what behaviour depends on."""
    texts = corpus["texts"]
    n_words = np.array([len(t.split()) for t in texts])
    n_bytes = sum(len(t) for t in texts)
    try:
        mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        mem = 0
    return {
        "spec": asdict(spec),
        "docs": len(texts),
        "exact_dup_pairs": len(corpus["exact_pairs"]),
        "near_dup_pairs": len(corpus["near_pairs"]),
        "near_dup_jaccard_min": min((p[2] for p in corpus["near_pairs"]), default=0),
        "junk_docs": len(corpus["junk"]),
        "contaminated_docs": len(corpus["contaminated"]),
        "doc_words_p50": float(np.median(n_words)),
        "doc_words_p90": float(np.percentile(n_words, 90)),
        "top_term_share": float(corpus["probs"][0]),
        "corpus_bytes": int(n_bytes),
        "corpus_share_of_ram": n_bytes / mem if mem else None,
    }


def write_corpus_parquet(texts: list, ids, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(list(ids), pa.int64()),
                  "text": pa.array(texts, pa.string())}),
        os.path.join(path, "part-00000.parquet"),
        row_group_size=max(1, len(texts) // 8),
    )


def clustered_vectors(spec: CorpusSpec, n: int, seed: int) -> np.ndarray:
    """``n`` float32 vectors around ``spec.clusters`` random centres."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(0, 1, (spec.clusters, spec.dim))
    labels = rng.integers(0, spec.clusters, n)
    return (centres[labels] + rng.normal(0, 0.35, (n, spec.dim))).astype(np.float32)


def write_vectors_parquet(vecs: np.ndarray, ids, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32()))
    pq.write_table(
        pa.table({"vec_id": pa.array(list(ids), pa.int64()), "embedding": emb}),
        os.path.join(path, "part-00000.parquet"),
        row_group_size=max(1, vecs.shape[0] // 8),
    )
