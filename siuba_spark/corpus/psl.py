"""Public Suffix List (PSL) compilation for registrable-domain
derivation — the data-driven replacement for the curated two-level
suffix heuristic (VERDICT r11 item 3).

The PSL (publicsuffix.org, published by Mozilla under MPL-2.0) is the
public registry of "suffixes under which Internet users can directly
register names".  The REGISTRABLE domain (a.k.a. eTLD+1) is the public
suffix plus one more label — the key every web-corpus pipeline groups,
caps, and blocklists by (C4 / RefinedWeb dedup-by-domain).

This module implements the PSL algorithm (https://publicsuffix.org/list/)
over whatever rule file is present:

* a NORMAL rule (``co.uk``) matches a host whose trailing labels equal
  the rule;
* a WILDCARD rule (``*.ck``) matches any host with at least one label
  before the base — the ``*`` consumes exactly one label;
* an EXCEPTION rule (``!www.ck``) carves a name OUT of a wildcard: the
  public suffix is the rule minus its leftmost label, so the rule name
  itself is the registrable domain;
* if several rules match, the exception rule prevails, else the rule
  with the most labels; if none match, the implicit ``*`` rule applies
  (public suffix = the TLD, registrable = last two labels).

Deviation from the spec, shared with the old heuristic and pinned by
tests: a host that IS a public suffix (or has no dot at all) passes
through UNCHANGED instead of becoming NULL — group-by keys stay
non-null, and the caller can still distinguish the case by comparing
``domain == host``.

Compilation strategy (Spark-first): the rules are grouped by the label
count of the public suffix they define and baked into ONE ``CASE WHEN``
chain of ``isin`` literal-set probes over the host's trailing-label
substrings — pure whole-stage-codegen, zero Python per row, zero
shuffle, no join against a rules table (the bundled subset is ~400
rules; the full PSL is ~10k literals, still well inside codegen limits,
and literal sets beat a broadcast join for a per-row scalar
derivation).  :func:`registrable_domain_py` is the pure-Python twin
used by the property tests to cross-check the expression.

IDN note: rules and hosts are compared byte-wise after lowercasing —
a punycode host (``xn--``) only matches punycode rules.  The upstream
list carries its IDN rules in Unicode; IDNA-encode hosts (or the rule
file) consistently on ingest if your crawl mixes the two forms — no
silent conversion is attempted here.

The bundled ``siuba_spark/data/public_suffix_list.dat`` is a curated
SUBSET in the exact upstream wire format — drop in the complete file
from publicsuffix.org to get full coverage without code changes (or
point ``SIUBA_SPARK_PSL`` at one).  If the data file is missing
entirely, ``load_default_rules()`` returns None and
``registrable_domain_col`` falls back to the curated two-level
heuristic (corpus/text.py TWO_LEVEL_SUFFIXES).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import lru_cache

from pyspark.sql import functions as F

DEFAULT_PSL_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data", "public_suffix_list.dat")

_IP_RE = r"^\d{1,3}(\.\d{1,3}){3}$"


@dataclass(frozen=True)
class PSLRules:
    """Compiled PSL rule sets, keyed by label count.

    ``norm[k]``: normal rules with k labels (public suffix depth k).
    ``wild[k]``: wildcard BASES with k labels (``*.ck`` stores ``ck``
    under k=1; public suffix depth k+1).
    ``exc[k]``: exception rule names with k labels (the name itself is
    the registrable domain).
    """
    norm: tuple
    wild: tuple
    exc: tuple

    def norm_at(self, k):
        return dict(self.norm).get(k, frozenset())

    def wild_at(self, k):
        return dict(self.wild).get(k, frozenset())

    def exc_at(self, k):
        return dict(self.exc).get(k, frozenset())

    @property
    def max_suffix_depth(self) -> int:
        depths = [k for k, _ in self.norm]
        depths += [k + 1 for k, _ in self.wild]
        return max(depths, default=1)


def parse_psl(text: str) -> PSLRules:
    """Parse PSL wire format: ``//`` comment lines are skipped, each
    rule line is read up to the first whitespace (per the spec), rules
    are lowercased.  One-label NORMAL rules (bare TLDs like ``uk``) are
    parsed but not stored — they define the same registrable domain as
    the implicit ``*`` default, so carrying them would only bloat the
    literal sets."""
    norm: dict[int, set] = {}
    wild: dict[int, set] = {}
    exc: dict[int, set] = {}
    for raw in text.splitlines():
        line = raw.strip().split()[0] if raw.strip() else ""
        if not line or line.startswith("//"):
            continue
        line = line.lower()
        if line.startswith("!"):
            name = line[1:]
            exc.setdefault(name.count(".") + 1, set()).add(name)
        elif line.startswith("*."):
            base = line[2:]
            if "*" in base:
                raise ValueError(f"unsupported interior wildcard: {line}")
            wild.setdefault(base.count(".") + 1, set()).add(base)
        else:
            k = line.count(".") + 1
            if k >= 2:
                norm.setdefault(k, set()).add(line)
    freeze = lambda d: tuple(  # noqa: E731
        sorted((k, frozenset(v)) for k, v in d.items()))
    return PSLRules(norm=freeze(norm), wild=freeze(wild), exc=freeze(exc))


@lru_cache(maxsize=4)
def _load_rules_cached(path: str) -> PSLRules | None:
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        return parse_psl(fh.read())


def load_default_rules() -> PSLRules | None:
    """The bundled rule file (or ``$SIUBA_SPARK_PSL``), parsed once per
    process; None when no data file is present (heuristic fallback)."""
    return _load_rules_cached(os.environ.get("SIUBA_SPARK_PSL",
                                             DEFAULT_PSL_PATH))


def _canon_host(host):
    # trailing root-dot FQDN canonicalized; DNS names are
    # case-insensitive, so the derived key is always lowercase
    return F.lower(F.regexp_replace(host, r"\.$", ""))


def _psl_case(host, parts, rules: PSLRules):
    """The PSL ``CASE`` chain over a canonical ``host`` column and its
    label array ``parts`` — the one lowering behind both
    :func:`registrable_domain_expr` and
    :func:`attach_registrable_domain`.  ``try_element_at`` keeps short
    hosts NULL-safe under ANSI mode, and a too-short ``lastk`` probe can
    never spuriously match (its dot count is below the rule's)."""
    n = F.size(parts)

    def lastk(k):
        return F.concat_ws(".", *[F.try_element_at(parts, F.lit(-i))
                                  for i in range(k, 0, -1)])

    def keep(depth):
        # registrable = one label more than the public suffix; a host
        # at (or below) suffix depth passes through unchanged
        return F.when(n >= depth + 1, lastk(depth + 1)).otherwise(host)

    expr = F.when(host.isNull() | host.rlike(_IP_RE), host)
    # exception rules prevail over everything, deepest first
    for k, names in sorted(rules.exc, reverse=True):
        expr = expr.when(lastk(k).isin(*sorted(names)), lastk(k))
    # then the longest matching rule: at public-suffix depth d, the
    # wildcard bases with d-1 labels and the normal rules with d labels
    wild = dict(rules.wild)
    norm = dict(rules.norm)
    for d in range(rules.max_suffix_depth, 1, -1):
        cond = None
        if d - 1 in wild:
            c = lastk(d - 1).isin(*sorted(wild[d - 1])) & (n >= d)
            cond = c if cond is None else (cond | c)
        if d in norm:
            c = lastk(d).isin(*sorted(norm[d]))
            cond = c if cond is None else (cond | c)
        if cond is not None:
            expr = expr.when(cond, keep(d))
    # implicit "*" rule: the TLD is the suffix
    return expr.otherwise(keep(1))


def registrable_domain_expr(host, rules: PSLRules):
    """Registrable domain of ``host`` under ``rules`` as one pure
    codegen CASE chain.  NULL and IPv4-literal hosts pass through; so
    does a host that is itself a public suffix (see module docstring)."""
    host = _canon_host(host)
    return _psl_case(host, F.split(host, r"\."), rules)


# compiled-CASE cache for attach_registrable_domain: the PSL CASE over
# the FIXED temp column names depends only on the rules, and building it
# costs ~0.9 s of pure driver/py4j time (one Literal round-trip per
# suffix name; ~470 names in the default set).  A Column is an
# unresolved expression AST, reusable across DataFrames and queries
# within the same JVM gateway — cache it per (rules, gateway) so every
# PSL consumer after the first pays ~0 driver time (VERDICT r12 item 7).
# Keyed on the frozen PSLRules VALUE, not its id(): a recycled id must
# never serve another rule set's CASE.  Keyed on the gateway too: a
# restarted JVM invalidates old JavaObjects.
_CASE_CACHE: dict = {}


def _gateway_key():
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    return id(sc._gateway) if sc is not None else None


def attach_registrable_domain(df, host, out: str, rules: PSLRules):
    """Two-stage lowering of :func:`registrable_domain_expr` for hot
    paths: materialize the canonical host and its label split ONCE in a
    first projection, then run the PSL CASE over cheap
    ``try_element_at``/``concat_ws`` references in a second.

    The single-expression form re-inlines ``host`` (often a
    ``try_parse_url`` call) and the ``split`` into every CASE branch —
    Catalyst's CollapseProject only keeps a projection boundary when a
    non-cheap alias is referenced more than once, which is exactly what
    the two ``withColumn`` stages below guarantee — so the parse and
    split run per ROW instead of per REFERENCE (~12x for a deep rule
    set; measured 3.4x end-to-end on a 500k-row url_parts, SCALE.md
    r12).  Returns ``df`` with ``out`` added and no temp columns."""
    h, p = "__psl_h", "__psl_p"
    df = (df.withColumn(h, _canon_host(host))
          .withColumn(p, F.split(F.col(h), r"\.")))
    key = (rules, _gateway_key())
    case = _CASE_CACHE.get(key)
    if case is None:
        case = _psl_case(F.col(h), F.col(p), rules)
        _CASE_CACHE.clear()     # one live gateway; stale entries are dead
        _CASE_CACHE[key] = case
    return df.withColumn(out, case).drop(h, p)


def registrable_domain_py(host, rules: PSLRules):
    """Pure-Python twin of :func:`registrable_domain_expr`, same
    conventions — the property-test oracle (tests compare the Spark
    expression to this, the way test_property_calls treats the siu
    layer)."""
    import re

    if host is None:
        return None
    h = re.sub(r"\.$", "", host).lower()
    if re.match(_IP_RE, h):
        return h
    labels = h.split(".")
    n = len(labels)

    def lastk(k):
        return ".".join(labels[-k:]) if k <= n else h

    for k, names in sorted(rules.exc, reverse=True):
        if n >= k and lastk(k) in names:
            return lastk(k)
    wild = dict(rules.wild)
    norm = dict(rules.norm)
    for d in range(rules.max_suffix_depth, 0, -1):
        matched = (d - 1 in wild and n >= d and lastk(d - 1) in wild[d - 1])
        matched = matched or (d in norm and n >= d and lastk(d) in norm[d])
        matched = matched or d == 1  # implicit "*"
        if matched:
            return lastk(d + 1) if n >= d + 1 else h
    return h
