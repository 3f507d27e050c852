"""Deterministic, seeded input generator for the benchmark workloads.

Everything the program reads comes from here: Common Crawl WET files and
ABR bulk-extract XML for ``er_batch``, a seed crawl and web-record
batches for ``er_delta``, and the ground truth of every page. One seed
always yields byte-identical files; generation is never timed and its
output is cached per seed under ``perfbench/.cache``.

The properties the pipeline's cost depends on are fixed in ``ER`` and
``DELTA`` below. The shape ratios come from the reference's recorded run
and its design point (the BASELINE.md figures quoted in README.md),
scaled down so that one op fits the time budget.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np

CACHE = Path(__file__).resolve().parent / ".cache"

ER = {
    "pages": 100,              # cleaned .au pages per er_batch op
    "register_per_page": 15,   # ABR entities per cleaned page (3M : 200K)
    "block_skew": 0.65,        # zipf exponent over block-key head words,
    "head_words": 2400,        # with the key count: ~5 pairs per page
    "noname_frac": 0.48,       # .au pages without a company name (80 of 165)
    "nomatch_frac": 0.08,      # cleaned pages naming no entity (7 of 85)
    "offsite_frac": 0.05,      # raw pages outside .au, per cleaned page
    "abr_invalid_frac": 0.005,  # register rows with a bad ABN checksum
    "llm_band_frac": 0.25,     # true pairs placed at jaccard 0.60-0.74
    "wet_files": 3,
    "abr_files": 3,
}
DELTA = {
    "seed_pages": 200,         # cleaned pages matched into the golden table
    "batch_pages": 20,         # cleaned pages per er_delta op
    "update_frac": 0.25,       # share of them re-crawling a seeded page
    "batches": 64,
}

_SUFFIXES = ["PTY LTD", "PTY LTD", "PTY. LTD.", "LIMITED", "PTY LIMITED"]
_WEB_SUFFIX = {"PTY LTD": "Pty Ltd", "PTY. LTD.": "Pty Ltd",
               "LIMITED": "Limited", "PTY LIMITED": "Pty Limited"}
# Share of names with 2..5 tokens after stopwords; only names of 5
# tokens can leave the LLM band with a passing final score.
_NAME_LENGTHS = {2: 0.2, 3: 0.35, 4: 0.3, 5: 0.15}
_STATES = ["NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT"]
_TYPES = ["PRV", "PUB", "TRT", "PNR", "OIE"]
_INDUSTRIES = ["software", "construction", "retail", "mining",
               "healthcare", "finance", "logistics", "education",
               "hospitality", "agriculture", "energy", "legal"]
# Stopwords the cleaner drops must never be generated as name tokens.
_STOP = {"PTY", "LTD", "LIMITED", "PROPRIETARY", "AUSTRALIA", "AUSTRALIAN",
         "HOLDINGS", "GROUP", "SERVICES", "CORPORATION", "CORP", "INC",
         "CO", "THE", "AND", "OF", "WELCOME", "ABOUT", "HOME"}
_DOC_WORDS = ("a the data spark line column order small sort fast value "
              "scan hash slow group batch agg filter query big key window "
              "row part table stream merge join vector customer").split()


def _words(rng: np.random.Generator, n: int, lo: int, hi: int,
           taken: set[str]) -> list[str]:
    """``n`` distinct pronounceable upper-case words with distinct
    4-letter prefixes (so each head word owns exactly one block key)."""
    cons, vow = "BCDFGHJKLMNPRSTVWZ", "AEIOU"
    out, prefixes = [], set()
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = "".join(cons[rng.integers(len(cons))] if i % 2 == 0
                    else vow[rng.integers(len(vow))] for i in range(k))
        if w in taken or w in _STOP or w[:4] in prefixes:
            continue
        taken.add(w)
        prefixes.add(w[:4])
        out.append(w)
    return out


def _abn(rng: np.random.Generator, valid: bool) -> str:
    """An 11-digit ABN whose mod-89 checksum holds (or fails)."""
    weights = [10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19]
    while True:
        tail = [int(d) for d in rng.integers(0, 10, 9)]
        rest = sum(w * d for w, d in zip(weights[2:], tail))
        for head in range(10, 100):
            d0, d1 = divmod(head, 10)
            ok = ((d0 - 1) * weights[0] + d1 * weights[1] + rest) % 89 == 0
            if ok == valid:
                return f"{head}{''.join(map(str, tail))}"


def _title(tokens: list[str]) -> str:
    return " ".join(t.capitalize() for t in tokens)


def _wet_record(url: str, body: str) -> str:
    return ("WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"Content-Length: {len(body.encode())}\r\n\r\n{body}\r\n\r\n")


def _wet_file(records: list[str]) -> str:
    return ("WARC/1.0\r\nWARC-Type: warcinfo\r\n\r\nsoftware: perfbench\r\n"
            "\r\n" + "".join(records))


def _abr_record(abn: str, name: str, rng: np.random.Generator) -> str:
    status = "Active" if rng.random() < 0.85 else "Cancelled"
    day = f"20{rng.integers(0, 24):02d}{rng.integers(1, 13):02d}" \
          f"{rng.integers(1, 29):02d}"
    etype = _TYPES[rng.integers(len(_TYPES))]
    state = _STATES[rng.integers(len(_STATES))]
    post = f"{rng.integers(800, 7999):04d}"
    return (f'<ABR recordLastUpdatedDate="20240101">'
            f'<ABN status="{status}" ABNStatusFromDate="{day}">{abn}</ABN>'
            f"<EntityType><EntityTypeInd>{etype}</EntityTypeInd>"
            f"</EntityType><MainEntity><NonIndividualName>"
            f"<NonIndividualNameText>{name}</NonIndividualNameText>"
            f"</NonIndividualName><BusinessAddress><AddressDetails>"
            f"<State>{state}</State><Postcode>{post}</Postcode>"
            f"</AddressDetails></BusinessAddress></MainEntity></ABR>\n")


class _Register:
    """The ABR register: entities with unique normalized names whose
    first token (the block key) follows a zipf law."""

    def __init__(self, rng: np.random.Generator):
        taken: set[str] = set()
        self.heads = _words(rng, ER["head_words"], 5, 8, taken)
        self.vocab = _words(rng, 1500, 4, 9, taken)
        self.extra = _words(rng, 300, 4, 9, taken)
        ranks = np.arange(1, len(self.heads) + 1, dtype=float)
        p = ranks ** -ER["block_skew"]
        self.p = p / p.sum()
        self.rng = rng
        self.names: set[tuple[str, ...]] = set()
        self.entities = [self.new_entity() for _ in
                         range(ER["pages"] * ER["register_per_page"])]

    def tokens(self) -> tuple[str, ...]:
        rng = self.rng
        while True:
            n = int(rng.choice(list(_NAME_LENGTHS),
                               p=list(_NAME_LENGTHS.values())))
            head = self.heads[rng.choice(len(self.heads), p=self.p)]
            rest = [self.vocab[i] for i in
                    rng.choice(len(self.vocab), n - 1, replace=False)]
            toks = (head, *rest)
            if toks not in self.names:
                self.names.add(toks)
                return toks

    def new_entity(self) -> dict:
        toks = self.tokens()
        suffix = _SUFFIXES[self.rng.integers(len(_SUFFIXES))]
        return {"abn": _abn(self.rng, True), "tokens": toks,
                "name": " ".join(toks) + " " + suffix, "suffix": suffix}

    def web_record(self, url: str, entity: dict | None,
                   band: bool = False) -> tuple[str, str]:
        """(url, WET body) naming ``entity`` exactly or, with ``band``,
        with two added tokens (the LLM band); or naming a fresh
        unregistered company."""
        rng = self.rng
        if entity is None:
            toks, suffix = list(self.tokens()), "Pty Ltd"
        else:
            toks = list(entity["tokens"])
            suffix = _WEB_SUFFIX[entity["suffix"]]
            if band:
                toks += [self.extra[i] for i in
                         rng.choice(len(self.extra), 2, replace=False)]
        ind = _INDUSTRIES[rng.integers(len(_INDUSTRIES))]
        filler = " ".join(_DOC_WORDS[i] for i in
                          rng.integers(0, len(_DOC_WORDS), 40))
        body = (f"{_title(toks)} {suffix} | industry: {ind} | "
                f"{filler} | contact us for a quote")
        return url, body

    def noname_web(self, url: str) -> tuple[str, str]:
        """An .au page the cleaner drops: no extractable company name."""
        return url, "welcome | no company here | contact us"

    def offsite_web(self, url: str) -> tuple[str, str]:
        """A page outside .au, dropped by the source's .au filter."""
        return url, f"{_title(list(self.tokens()))} Pty Ltd | offshore"


def _entities_xml(reg: _Register, rng: np.random.Generator,
                  files: int) -> list[str]:
    rows = [_abr_record(e["abn"], e["name"], rng) for e in reg.entities]
    n_bad = int(round(len(rows) * ER["abr_invalid_frac"]))
    for _ in range(n_bad):
        rows.append(_abr_record(_abn(rng, False),
                                " ".join(reg.tokens()) + " PTY LTD", rng))
    order = rng.permutation(len(rows))
    chunks = np.array_split(order, files)
    return ["<Transfer>\n" + "".join(rows[i] for i in c) + "</Transfer>\n"
            for c in chunks]


def _pick(rng: np.random.Generator, k: int,
          pool: list[dict]) -> list[tuple[dict, bool]]:
    """``k`` distinct entities with exact shares per name length, and an
    exact LLM-band share within each length that can reach the band
    (three tokens or more), so match quality barely moves with the seed."""
    counts = {n: int(round(k * p)) for n, p in _NAME_LENGTHS.items()}
    counts[3] += k - sum(counts.values())
    out = []
    for n, c in counts.items():
        ids = [i for i, e in enumerate(pool) if len(e["tokens"]) == n]
        n_band = int(round(c * ER["llm_band_frac"])) if n >= 3 else 0
        out += [(pool[i], j < n_band) for j, i in
                enumerate(rng.choice(ids, c, replace=False))]
    return [out[i] for i in rng.permutation(len(out))]


def _web_batch(reg: _Register, rng: np.random.Generator, pages: int,
               prefix: str, pool: list[dict],
               updates: list[tuple[str, dict]] = (),
               ) -> tuple[list, dict, list]:
    """Raw web records for ``pages`` cleaned pages, as (url, body) pairs;
    the url -> abn truth; and the (url, entity, band) of the pages drawn
    from ``pool``. Pages naming a registered entity take ``updates``
    first (a re-crawl of a seeded URL, naming the same entity), then
    distinct entities drawn from ``pool``; the shares of pages without a
    name, naming no entity and outside .au are ER's."""
    n_noname = int(round(pages * ER["noname_frac"]
                         / (1 - ER["noname_frac"])))
    n_offsite = int(round(pages * ER["offsite_frac"]))
    n_none = int(round(pages * ER["nomatch_frac"]))
    recs, truth = [], {}
    for url, e in updates:
        recs.append(reg.web_record(url, e))
        truth[url] = e["abn"]
    fresh = []
    for j, (e, band) in enumerate(_pick(rng, pages - n_none - len(updates),
                                        pool)):
        url = f"https://www.{prefix}{j}.com.au/about"
        recs.append(reg.web_record(url, e, band))
        truth[url] = e["abn"]
        fresh.append((url, e, band))
    for j in range(n_none):
        recs.append(reg.web_record(f"https://www.{prefix}x{j}.com.au/", None))
    for j in range(n_noname):
        recs.append(reg.noname_web(f"https://www.{prefix}n{j}.com.au/"))
    for j in range(n_offsite):
        recs.append(reg.offsite_web(f"https://www.{prefix}o{j}.example.com/"))
    order = rng.permutation(len(recs))
    return [recs[i] for i in order], truth, fresh


def _write(path: Path, text: str) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(text.encode())


def _gen(root: Path, seed: int) -> None:
    rng = np.random.default_rng([seed, 1])
    reg = _Register(rng)
    for k, xml in enumerate(_entities_xml(reg, rng, ER["abr_files"])):
        _write(root / "abr" / f"part{k}.xml", xml)
    recs, truth, _ = _web_batch(reg, rng, ER["pages"], "co", reg.entities)
    chunks = np.array_split(np.arange(len(recs)), ER["wet_files"])
    for k, c in enumerate(chunks):
        _write(root / "wet" / f"part{k}.warc.wet",
               _wet_file([_wet_record(*recs[i]) for i in c]))
    _write(root / "truth.json", json.dumps(truth, sort_keys=True))

    # Delta: a seed crawl, then batches of pages naming entities not yet
    # crawled (inserts into the golden table) and re-crawls of seeded
    # pages that named their entity exactly, so the cascade matched them
    # and the upsert replaces their row: the replaced share of a batch's
    # matches is update_frac / (1 - nomatch_frac) exactly.
    seeded, seed_truth, fresh = _web_batch(reg, rng, DELTA["seed_pages"],
                                           "seed", reg.entities)
    _write(root / "delta" / "seed.warc.wet",
           _wet_file([_wet_record(*r) for r in seeded]))
    exact = [(url, e) for url, e, band in fresh if not band]
    taken = {e["abn"] for _, e, _ in fresh}
    n_upd = int(round(DELTA["batch_pages"] * DELTA["update_frac"]))
    batches = []
    for b in range(DELTA["batches"]):
        upd = [exact[j] for j in
               rng.choice(len(exact), n_upd, replace=False)]
        pool = [e for e in reg.entities if e["abn"] not in taken]
        recs, truth, fresh = _web_batch(reg, rng, DELTA["batch_pages"],
                                        f"d{b}n", pool, upd)
        taken |= {e["abn"] for _, e, _ in fresh}
        _write(root / "delta" / f"batch{b:03d}.warc.wet",
               _wet_file([_wet_record(*r) for r in recs]))
        batches.append(truth)
    _write(root / "delta" / "truth.json",
           json.dumps({"seed": seed_truth, "batches": batches},
                      sort_keys=True))


def inputs(seed: int, cache: Path = CACHE) -> Path:
    """Directory holding the inputs for ``seed``, generated on first
    use. A partial directory from an interrupted run is never reused:
    the files land in a scratch directory that is renamed into place."""
    # keyed by this file's text too, so any change to the generator
    # invalidates inputs generated before it
    tag = hashlib.sha1(Path(__file__).read_bytes()).hexdigest()[:12]
    root = cache / f"seed{seed}-{tag}"
    if root.exists():
        return root
    tmp = cache / f".tmp-{os.getpid()}-seed{seed}"
    shutil.rmtree(tmp, ignore_errors=True)
    _gen(tmp, seed)
    root.parent.mkdir(parents=True, exist_ok=True)
    os.replace(tmp, root)
    return root
