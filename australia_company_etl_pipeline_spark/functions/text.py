"""Text / name-cleaning scalar functions (SURVEY.md §2.8, F1–F7, F11–F17).

Every function here is a pure ``Column -> Column`` built from native
Catalyst expressions — the reference implements these as row-at-a-time
Python UDFs (``/root/reference/src/transform/clean_abr.py:243-248``,
``clean_commoncrawl.py:180-183``), which puts a Python round-trip in the
hot path of every row. Native expressions compile into whole-stage
codegen, but a filter on a column built from them is pushed below its
projection and re-evaluates the whole chain per reference, with no
common-subexpression elimination: pipelines compute such columns once
(``operators.staging.compute_once``) before filtering on them.

Parity notes (SURVEY §7.4.1), validated by differential testing against the
executed reference functions:
- ``\\w``-class patterns carry the ``(?U)`` flag so Java matches Python's
  Unicode-aware ``\\w`` ('Café' survives normalization as in Python).
- Word title-casing capitalizes only the first character of each
  whitespace-delimited word; Python ``str.title()`` also capitalizes after
  internal punctuation ("O'BRIEN" → "O'Brien" vs ours "O'brien").
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Company-name stopwords, reference /root/reference/src/common/utils.py:15-19.
COMPANY_STOPWORDS = [
    "PTY", "LTD", "LIMITED", "PROPRIETARY", "AUSTRALIA", "AUSTRALIAN",
    "HOLDINGS", "GROUP", "SERVICES", "CORPORATION", "CORP", "INC", "CO",
    "THE", "AND", "&", "OF",
]

VALID_STATES = ["NSW", "VIC", "QLD", "SA", "WA", "TAS", "NT", "ACT"]

STATE_NAME_MAP = {
    "NEW SOUTH WALES": "NSW",
    "VICTORIA": "VIC",
    "QUEENSLAND": "QLD",
    "SOUTH AUSTRALIA": "SA",
    "WESTERN AUSTRALIA": "WA",
    "TASMANIA": "TAS",
    "NORTHERN TERRITORY": "NT",
    "AUSTRALIAN CAPITAL TERRITORY": "ACT",
}

ENTITY_TYPE_MAP = {
    "PRV": "Private Company",
    "PUB": "Public Company",
    "IND": "Individual/Sole Trader",
    "TRT": "Trust",
    "PNR": "Partnership",
    "SGE": "State Government Entity",
    "CGE": "Commonwealth Government Entity",
    "OIE": "Other Incorporated Entity",
}

# Words kept fully uppercase by entity-name title-casing
# (/root/reference/src/transform/clean_abr.py:151).
KEEP_UPPER = ["PTY", "LTD", "LIMITED", "NSW", "VIC", "QLD", "SA", "WA",
              "TAS", "NT", "ACT", "ABN", "ACN"]

INDUSTRY_PATTERNS = [
    # (java-regex on lowercased input, canonical label) — order matters,
    # first match wins (/root/reference/src/transform/clean_commoncrawl.py:137-153).
    ("it|tech|software|digital", "Information Technology"),
    ("finance|bank|accounting", "Financial Services"),
    ("health|medical|pharma", "Healthcare"),
    ("retail|shop|store", "Retail"),
    ("construction|building", "Construction"),
    ("mining|resources", "Mining & Resources"),
    ("manufact", "Manufacturing"),
    ("transport|logistics", "Transport & Logistics"),
    ("education|training|school", "Education"),
    ("legal|law", "Legal Services"),
    ("real estate|property", "Real Estate"),
    ("agricult|farm", "Agriculture"),
    ("energy|power|electricity", "Energy"),
    ("telecom", "Telecommunications"),
    ("hospitality|hotel|restaurant", "Hospitality"),
]


def _empty_to(c: Column, default: Column) -> Column:
    return F.when(c.isNull() | (c == ""), default).otherwise(c)


def normalize_company_name(name: Column) -> Column:
    """F1 — upper → strip punctuation → drop stopwords → collapse spaces.

    Reference: /root/reference/src/common/utils.py:43-86 (Python UDF).
    Null/empty input → '' (reference contract).
    """
    up = F.upper(name)
    # (?U) on \s too: Java's \s is ASCII-only by default, but the
    # reference's Python re treats unicode whitespace (NBSP etc.) as a
    # token separator — divergence caught by tests/test_parity_fuzz.py
    no_punct = F.regexp_replace(up, r"(?U)[^\w\s]", " ")
    tokens = F.split(F.trim(no_punct), r"(?U)\s+")
    kept = F.filter(
        tokens,
        lambda w: (w != "") & ~w.isin(*COMPANY_STOPWORDS))
    joined = F.array_join(kept, " ")
    return F.when(name.isNull() | (name == ""), F.lit("")).otherwise(joined)


def clean_text(text: Column) -> Column:
    """F2 — strip HTML tags, URLs, emails, special chars; collapse ws.

    Reference: /root/reference/src/common/utils.py:89-117.
    """
    c = F.regexp_replace(text, r"<[^>]+>", " ")
    c = F.regexp_replace(c, r"http[s]?://\S+", " ")
    c = F.regexp_replace(c, r"\S+@\S+", " ")
    c = F.regexp_replace(c, r"(?U)[^\w\s.,!?-]", " ")
    c = F.regexp_replace(c, r"(?U)\s+", " ")
    c = F.trim(c)
    return F.when(text.isNull(), F.lit("")).otherwise(c)


def extract_domain(url: Column) -> Column:
    """F3 — URL → host, strip leading 'www.', lowercase; ''/bad → ''.

    Reference: /root/reference/src/common/utils.py:120-147 (urlparse).
    Extracts the netloc (host[:port], like Python urlparse) via regex
    rather than parse_url, which drops the port.
    """
    host = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)", 1)
    no_www = F.regexp_replace(host, r"^www\.", "")
    return F.when(url.isNull(), F.lit("")).otherwise(F.lower(no_www))


def is_australian_domain(url: Column) -> Column:
    """F4/P8 — domain endswith '.au'. Reference utils.py:150-161."""
    return extract_domain(url).endswith(".au")


def blocking_key(normalized_name: Column, key_length: int = 4) -> Column:
    """F5/M7 — first N chars of the normalized name, lowered; short → ''.

    Matches the applied form (``lower(normalized_name.substr(1,4))`` at
    /root/reference/src/transform/clean_abr.py:274-277 with the pandas
    twin's short-name guard at clean_abr.py:104-106).
    """
    key = F.lower(F.substring(normalized_name, 1, key_length))
    return F.when(
        normalized_name.isNull() | (F.length(normalized_name) < key_length),
        F.lit("")).otherwise(key)


def _regex_candidate(text: Column, pattern: str, lo: int, hi: int) -> Column:
    hit = F.trim(F.regexp_extract(text, pattern, 1))
    ok = (hit != "") & F.length(hit).between(lo, hi)
    return F.when(ok, hit)


def extract_company_from_text(text: Column) -> Column:
    """F6 — ordered regex cascade for company names, first valid wins.

    Reference: /root/reference/src/common/utils.py:183-212.
    """
    patterns = [
        r"([A-Z][A-Za-z0-9&,.\s]+(?:Pty|PTY)[\s.]*(?:Ltd|LTD|Limited))",
        r"([A-Z][A-Za-z0-9&,.\s]+(?:Ltd|LTD|Limited))",
        r"([A-Z][A-Za-z0-9&,.\s]+Australia(?:\s+(?:Pty|PTY))?(?:\s+(?:Ltd|LTD))?)",
        r"(?:About|Company|Welcome to)\s+([A-Z][A-Za-z0-9&,.\s]{3,50})",
    ]
    return F.coalesce(
        *[_regex_candidate(text, p, 3, 100) for p in patterns])


def extract_industry_from_text(text: Column) -> Column:
    """F7 — industry mention regex cascade. Reference utils.py:215-243."""
    patterns = [
        r"[Ii]ndustry[:\s]+([A-Za-z\s&]+)",
        r"[Ss]ector[:\s]+([A-Za-z\s&]+)",
        r"[Ss]pecializ(?:e|ing) in ([A-Za-z\s&]+)",
    ]
    return F.coalesce(
        *[_regex_candidate(text, p, 3, 50) for p in patterns])


def _title_word(w: Column) -> Column:
    return F.concat(F.upper(F.substring(w, 1, 1)),
                    F.lower(F.substring(w, 2, 2_000_000)))


def clean_entity_name(name: Column) -> Column:
    """F11 — trim, collapse ws, strip trustee suffix, acronym-preserving
    title case (only when the whole name is uppercase), cap at 200.

    Reference: /root/reference/src/transform/clean_abr.py:133-160.
    """
    c = F.trim(name)
    c = F.regexp_replace(c, r"(?U)\s+", " ")
    c = F.regexp_replace(c, r"(?i)\s+AS\s+TRUSTEE.*$", "")
    is_upper = (c == F.upper(c)) & (c != F.lower(c))  # Python str.isupper()
    titled = F.array_join(
        F.transform(
            F.split(c, " "),
            lambda w: F.when(w.isin(*KEEP_UPPER), w).otherwise(_title_word(w))),
        " ")
    out = F.substring(F.when(is_upper, titled).otherwise(c), 1, 200)
    return F.when(name.isNull() | (out == ""), F.lit(None)).otherwise(out)


def clean_company_name(name: Column) -> Column:
    """F12 — trim, collapse ws, strip web-title noise, 2–200 length guard.

    Reference: /root/reference/src/transform/clean_commoncrawl.py:80-115.
    """
    c = F.trim(name)
    c = F.regexp_replace(c, r"(?U)\s+", " ")
    for pattern in (r"(?i)^welcome to\s+", r"(?i)^about\s+",
                    r"(?i)^home\s*[-–]\s*", r"(?i)\s*[-–]\s*home$",
                    r"(?i)\s*\|\s*official.*$"):
        c = F.regexp_replace(c, pattern, "")
    c = F.trim(c)
    bad = name.isNull() | (F.length(c) < 2) | (F.length(c) > 200)
    return F.when(bad, F.lit(None)).otherwise(c)


def clean_state(state: Column) -> Column:
    """F13 — full-name→code map then validity gate; invalid → NULL.

    Reference: /root/reference/src/transform/clean_abr.py:188-212.
    """
    up = F.upper(F.trim(state))
    mapped = up
    for full, code in STATE_NAME_MAP.items():
        mapped = F.when(up == full, F.lit(code)).otherwise(mapped)
    return F.when(mapped.isin(*VALID_STATES), mapped)


def clean_postcode(postcode: Column) -> Column:
    """F14 — first standalone 4-digit group, else NULL.

    Reference: /root/reference/src/transform/clean_abr.py:215-225.
    """
    hit = F.regexp_extract(postcode.cast("string"), r"\b(\d{4})\b", 1)
    return F.when(hit != "", hit)


def clean_entity_type(entity_type: Column) -> Column:
    """F15 — ABR code → description, unknown codes pass through.

    Reference: /root/reference/src/transform/clean_abr.py:19-28,163-170.
    """
    up = F.upper(F.trim(entity_type))
    out = up
    for code, desc in ENTITY_TYPE_MAP.items():
        out = F.when(up == code, F.lit(desc)).otherwise(out)
    return F.when(entity_type.isNull() | (up == ""), F.lit(None)).otherwise(out)


def clean_status(status: Column) -> Column:
    """F16 — active/registered → Active, cancel/deregistered → Cancelled,
    else title case. Reference clean_abr.py:173-185."""
    low = F.lower(F.trim(status))
    return (F.when(status.isNull() | (low == ""), F.lit(None))
            .when(low.contains("active") | low.contains("registered"),
                  "Active")
            .when(low.contains("cancel") | low.contains("deregistered"),
                  "Cancelled")
            .otherwise(F.initcap(low)))


def clean_industry(industry: Column) -> Column:
    """F17 — strip label prefixes, 15-pattern canonical map, else
    Title[:50]. Reference clean_commoncrawl.py:118-162."""
    c = F.trim(industry)
    c = F.regexp_replace(c, r"(?i)^(industry|sector|services?)[\s:]+", "")
    low = F.lower(c)
    out = F.substring(F.initcap(c), 1, 50)  # fallback: Title[:50]
    for pattern, label in reversed(INDUSTRY_PATTERNS):
        out = F.when(low.rlike(pattern), F.lit(label)).otherwise(out)
    return F.when(industry.isNull() | (c == ""), F.lit(None)).otherwise(out)


# American Soundex letter→code map over A..Z (vowels+Y→0; H/W are
# removed from the tail BEFORE mapping, so their 0 here only ever
# applies to a leading H/W, whose digit is discarded anyway).
_SOUNDEX_FROM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_SOUNDEX_TO = "01230120022455012623010202"


def soundex_portable(name: Column) -> Column:
    """American Soundex as a PORTABLE native expression chain — the
    classic phonetic blocking key for person/company names (Russell &
    Odell's published algorithm, the standard record-linkage block for
    misspellings: SMITH/SMYTHE → S530/S530). Spark ships ``F.soundex``,
    but its JVM implementation cannot be replayed by the DuckDB oracle;
    this chain (upper → strip non-letters → drop H/W from the tail →
    digit map via ``translate`` → collapse adjacent repeats → drop
    vowel markers → pad) is expressible identically in both engines,
    so phonetic keys can sit under the value-check gate. The collapse
    is a per-digit ``d{{2,}} → d`` chain, NOT a backreference — DuckDB's
    RE2 engine has no backreferences, and the chain keeps the two
    engines running the literally identical regex spec (same
    RE2-safety discipline as the PII patterns).
    Parity with ``F.soundex`` on letters-only input is pinned in tests;
    inputs with no letters (or NULL) yield NULL — callers coalesce to a
    sentinel block if they must keep such rows."""
    u = F.upper(F.regexp_replace(name, "[^A-Za-z]", ""))
    first = F.substring(u, 1, 1)
    # H/W are transparent for adjacency (ASHCRAFT → A261): remove them
    # from the tail, keep the first letter whatever it is
    tail = F.translate(F.substring(u, 2, 1_000_000), "HW", "")
    collapsed = F.translate(F.concat(first, tail),
                            _SOUNDEX_FROM, _SOUNDEX_TO)
    for d in "0123456":  # the only digits the map emits
        collapsed = F.regexp_replace(collapsed, d + "{2,}", d)
    tail_codes = F.regexp_replace(
        F.substring(collapsed, 2, 1_000_000), "0", "")
    code = F.concat(first, F.rpad(F.substring(tail_codes, 1, 3), 3, "0"))
    return F.when(u == "", F.lit(None)).otherwise(code)
