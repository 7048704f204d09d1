"""Seeded workload inputs for the kgforge benchmark.

Every input is a pure function of (workload, seed): the same seed writes
the same parquet rows. kgforge only ever reads the written files; the
ground truth (expected text, planted near-duplicates and clones) stays
here for the output checks.

Input properties the workloads vary (see perfbench/README.md):
duplicate fraction, dictionary size, batch-to-base ratio, hub share.
"""

from __future__ import annotations

import html as _html
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from kgforge import synth

# full_build: the default kgforge.synth shape (~200-concept dirty
# dictionary, 8% planted near-duplicates, Zipf-hot domains, hub alias on
# ~15% of pages)
BUILD_PAGES = 1200
# the crawl batch the traced run merges into its build
BATCH_NEW = 24
BATCH_CLONES = 6
BATCH_PAIRS = 3
BATCH_WORDS = 60  # fixed page length keeps the per-batch triple count steady across seeds
LOOKUP_SUBJECTS = 16
# large_ontology: past the 4,096-alias token-engine switch, far below the
# 200,000-row local-propagation threshold. Measured on a 4-core box,
# 60,000 aliases raised the ontology + mentions + link share of the build
# from 38 % to 43 %, but added ~5 s per build and ~11 s per incremental
# merge, more than a run's time budget allows.
ONTOLOGY_ALIASES = 24_000
ONTOLOGY_PAGES = 600
ONTOLOGY_FOLDERS = 40
ALIAS_SHARE = 0.6  # share of page tokens that are dictionary aliases
ALIAS_ZIPF = 1.0

_TS_FMT = "datetime64[us]"  # Spark cannot read TIMESTAMP(NANOS) parquet
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


@dataclass
class Corpus:
    pages: str
    dict: str
    truth: dict[str, str]  # url -> expected extracted text (well-formed en pages)
    dups: list[tuple[str, str]]  # (planted near-duplicate url, its source url)
    html_mb: float
    frame: pd.DataFrame = field(repr=False)  # url, warc_ts, html, text, lang


@dataclass
class Batch:
    path: str
    clones: list[tuple[str, str]]  # (clone url, base source url)
    pairs: list[tuple[str, str]]  # (duplicate url, representative url)


def _rng(seed: int, salt: int = 0) -> np.random.RandomState:
    return np.random.RandomState((seed * 7919 + salt) % (2**32 - 1))


def _html_of(i: int, domain: str, text: str) -> bytes:
    return synth.HTML_TMPL.format(
        title=f"page {i}", domain=domain, text=_html.escape(text, quote=False)
    ).encode("utf-8")


def _well_formed(html: bytes) -> bool:
    # synth dirties ~7% of pages (truncated </p, trailing junk bytes); the
    # generator's ground truth is defined for the rest
    return html.endswith(b"</html>") and b"</p>" in html


def _write_pages(df: pd.DataFrame, path: str) -> None:
    out = df[["url", "warc_ts", "html", "text", "lang"]].copy()
    out["warc_ts"] = out["warc_ts"].astype(_TS_FMT)
    out.to_parquet(path, index=False, row_group_size=2048)


def _corpus(pages: pd.DataFrame, pages_path: str, dict_path: str) -> Corpus:
    en = pages[pages["lang"] == "en"]
    truth = {
        u: t for u, t, h in zip(en["url"], en["text"], en["html"]) if _well_formed(h)
    }
    dups = []
    if "is_dup_of" in en:
        dups = [(u, s) for u, s in zip(en["url"], en["is_dup_of"]) if s is not None]
    return Corpus(
        pages=pages_path,
        dict=dict_path,
        truth=truth,
        dups=dups,
        html_mb=float(pages["html"].map(len).sum()) / 1e6,
        frame=pages[["url", "warc_ts", "html", "text", "lang"]],
    )


def synth_corpus(out_dir: str, seed: int, n_pages: int) -> Corpus:
    """The default kgforge.synth fixture shape at n_pages."""
    os.makedirs(out_dir, exist_ok=True)
    pages = synth.make_pages(n_pages=n_pages, seed=seed % (2**32 - 1))
    pages_path = os.path.join(out_dir, "pages.parquet")
    dict_path = os.path.join(out_dir, "concept_dict.parquet")
    _write_pages(pages, pages_path)
    synth.make_concept_dict(seed=seed).to_parquet(dict_path, index=False)
    return _corpus(pages, pages_path, dict_path)


def _alias(i: int) -> str:
    n = len(_SYLLABLES)
    return _SYLLABLES[i % n] + _SYLLABLES[(i // n) % n] + _SYLLABLES[(i // n**2) % n]


def ontology_dictionary(seed: int, n_aliases: int = ONTOLOGY_ALIASES) -> tuple[pd.DataFrame, list[str]]:
    """Tens of thousands of plain-word leaf aliases under six domain
    roots and their folders. Folders carry canonical ids; every 7th leaf
    lacks one and must inherit its folder's. Returns (dictionary, aliases
    in Zipf rank order — the seed decides which aliases are hot)."""
    aliases = [_alias(i) for i in range(n_aliases)]
    order = _rng(seed, 1).permutation(n_aliases)
    ranked = [aliases[k] for k in order]
    rows = []
    for d, dom in enumerate(synth.DOMAINS):
        root = f"\\KG\\{dom}"
        pred = f"has{dom.title()}"
        rows.append((root, f"_{dom.lower()}_root", f"{dom}:ROOT", pred, [], False, 2, "\\KG"))
        for j in range(ONTOLOGY_FOLDERS):
            rows.append(
                (f"{root}\\F{j}", f"_f{dom.lower()}{j}", f"{dom}:F{j}", pred, [],
                 False, 3, root)
            )
    for i, a in enumerate(aliases):
        dom = synth.DOMAINS[i % len(synth.DOMAINS)]
        folder = f"\\KG\\{dom}\\F{(i // len(synth.DOMAINS)) % ONTOLOGY_FOLDERS}"
        cid = None if i % 7 == 3 else f"{dom}:{a.upper()}"
        rows.append(
            (f"{folder}\\{a.upper()}", a, cid, f"has{dom.title()}", [a, a.upper()],
             True, 4, folder)
        )
    cols = ["concept_path", "alias", "canonical_id", "pred", "dim_codes",
            "is_leaf", "hlevel", "parent_path"]
    return pd.DataFrame(rows, columns=cols), ranked


def ontology_corpus(out_dir: str, seed: int, n_pages: int = ONTOLOGY_PAGES) -> Corpus:
    """Mention-dense pages drawing aliases Zipf-style over the whole
    ranked dictionary (a long tail of rarely-seen aliases), with filler
    words between them. No near-duplicates: canon finds nothing to do."""
    os.makedirs(out_dir, exist_ok=True)
    dic, ranked = ontology_dictionary(seed)
    rng = _rng(seed, 2)
    lengths = rng.randint(40, 80, size=n_pages)
    total = int(lengths.sum())
    w = 1.0 / np.arange(1, len(ranked) + 1) ** ALIAS_ZIPF
    picks = rng.choice(len(ranked), size=total, p=w / w.sum())
    is_alias = rng.rand(total) < ALIAS_SHARE
    fillers = rng.randint(0, len(synth.VOCAB), size=total)
    tokens = [
        ranked[p] if a else synth.VOCAB[f] for p, a, f in zip(picks, is_alias, fillers)
    ]
    rows, pos = [], 0
    for i, n in enumerate(lengths):
        text = " ".join(tokens[pos : pos + n])
        pos += n
        domain = f"onto{i % 40}.example.com"
        rows.append((
            f"https://{domain}/page/{i}",
            pd.Timestamp("2023-01-01") + pd.Timedelta(seconds=i * 997),
            _html_of(i, domain, text),
            text,
            "en",
        ))
    pages = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    pages_path = os.path.join(out_dir, "pages.parquet")
    dict_path = os.path.join(out_dir, "concept_dict.parquet")
    _write_pages(pages, pages_path)
    dic.to_parquet(dict_path, index=False)
    return _corpus(pages, pages_path, dict_path)


def batches(out_dir: str, seed: int, base: Corpus) -> Batch:
    """One small crawl batch against `base`: new fixed-length pages over
    the synth vocabulary, exact clones of well-formed base pages (each
    must adopt its source's base canonical subject), and near-duplicate
    pairs inside the batch (the later url must map to the earlier).
    Batch-to-base ratio is (BATCH_NEW + BATCH_CLONES + 2 * BATCH_PAIRS)
    / len(base pages)."""
    os.makedirs(out_dir, exist_ok=True)
    base_rows = base.frame.set_index("url")
    rng = _rng(seed, 101)
    ts0 = pd.Timestamp("2024-01-02")
    texts = [
        " ".join(synth.VOCAB[w] for w in rng.randint(0, len(synth.VOCAB), size=BATCH_WORDS))
        + (f" metric:temp={k % 97}.5" if k % 3 == 0 else "")
        for k in range(BATCH_NEW + BATCH_PAIRS)
    ]
    rows, clones, pairs = [], [], []
    for k, text in enumerate(texts[:BATCH_NEW]):
        domain = f"site{k % 50}.example.com"
        rows.append([f"https://{domain}/batch/page/{k}", ts0 + pd.Timedelta(seconds=k),
                     _html_of(k, domain, text), text, "en"])
    for k, src in enumerate(rng.choice(sorted(base.truth), size=BATCH_CLONES, replace=False)):
        url = f"https://clones.example.net/batch/{k}"
        r = base_rows.loc[src]
        rows.append([url, ts0 + pd.Timedelta(hours=1, seconds=k), r["html"], r["text"], "en"])
        clones.append((url, src))
    for k in range(BATCH_PAIRS):
        text = texts[BATCH_NEW + k]
        a = f"https://pairs.example.org/batch/{k}/a"
        d = f"https://pairs.example.org/batch/{k}/b"
        ts = ts0 + pd.Timedelta(hours=2, seconds=k)
        rows.append([a, ts, _html_of(k, "pairs.example.org", text), text, "en"])
        mut = text + " mirror"
        rows.append([d, ts, _html_of(k, "pairs.example.org", mut), mut, "en"])
        pairs.append((d, a))
    path = os.path.join(out_dir, "batch.parquet")
    _write_pages(pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]), path)
    return Batch(path=path, clones=clones, pairs=pairs)


def lookup_urls(seed: int, base: Corpus, n: int = LOOKUP_SUBJECTS) -> list[str]:
    """Fixed base pages whose canonical subjects every view read looks up."""
    pool = sorted(base.truth)
    return sorted(_rng(seed, 3).choice(pool, size=min(n, len(pool)), replace=False))
