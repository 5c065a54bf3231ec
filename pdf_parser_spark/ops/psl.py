"""Public-suffix-list registered-domain derivation, Spark-first.

"Registered domain" (a.k.a. eTLD+1) is the public suffix plus one
label — the granularity crawl blocklists, host quotas, and politeness
buckets operate on.  A fixed-label heuristic (e.g. "last three
labels") is wrong in both directions: ``news.bbc.co.uk`` needs FOUR
labels to reach its registrant (``bbc.co.uk``) while ``blog.example
.org`` needs only TWO (``example.org``).

Rules follow the public publicsuffix.org algorithm:

- a host matches a rule when the rule equals a label-suffix of it;
- ``*.`` rules match one extra (any) leading label;
- ``!`` exception rules beat all other matches and shorten the public
  suffix by one label;
- among non-exception matches the LONGEST rule wins;
- no match ⇒ the implicit ``*`` rule (public suffix = last label).

``PSL_SNAPSHOT`` is a small vendored snapshot **subset** of the public
list (publicsuffix.org, MPL-2.0 public data) covering the common
multi-label registries plus wildcard/exception shapes so every
algorithm branch is exercised; a production deployment swaps in the
full list file via :func:`psl_rules_df`'s ``rules`` argument — the
join shape is unchanged (the full list is ~10k rows, still a trivially
broadcastable dimension).

Scale: the derivation is explode(≤5 candidate suffixes) → broadcast
hash join → one partial groupBy on doc id.  Candidate fan-out is
bounded by ``MAX_RULE_LABELS``, the joined columns are (id, candidate)
only, and nothing document-sized moves.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

# Snapshot subset of the public suffix list (publicsuffix.org).
# Deliberately small; see module docstring.  ``*.``/``!`` syntax as in
# the public file.
PSL_SNAPSHOT = [
    # generic
    "com", "org", "net", "edu", "gov", "mil", "int", "io", "co", "ai",
    "dev", "app", "info", "biz",
    # ccTLDs with flat registration
    "de", "fr", "it", "nl", "es", "se", "ch", "ca", "us", "ru", "pl",
    # United Kingdom
    "uk", "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk", "sch.uk",
    # Australia
    "au", "com.au", "net.au", "org.au", "edu.au", "gov.au",
    # Japan (incl. the classic wildcard + exception pair; the public
    # list carries the bare "kawasaki.jp" rule alongside the wildcard,
    # which is what makes the bare host itself a public suffix)
    "jp", "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp",
    "kawasaki.jp", "*.kawasaki.jp", "!city.kawasaki.jp",
    # Brazil / China / India / New Zealand / South Africa / Korea / Mexico
    "br", "com.br", "org.br", "gov.br",
    "cn", "com.cn", "org.cn", "gov.cn", "edu.cn",
    "in", "co.in", "org.in",
    "nz", "co.nz", "org.nz",
    "za", "co.za", "org.za",
    "kr", "co.kr", "or.kr",
    "mx", "com.mx", "org.mx",
    # Cook Islands: everything under ck is a public suffix except www.ck
    "ck", "*.ck", "!www.ck",
]

MAX_RULE_LABELS = 5  # longest join key in the FULL list has 5 labels
                     # (s3.dualstack.<region>.amazonaws.com); asserted
                     # at load time below

# The FULL public suffix list (publicsuffix.org, MPL-2.0 public data;
# vendored from the Debian `publicsuffix` package's
# public_suffix_list.dat) — ~9.5k rules, ICANN + PRIVATE sections.
PSL_DATA_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "public_suffix_list.dat",
)

_PSL_FILE_CACHE: dict[str, list[str]] = {}


def load_psl_file(path: str | None = None) -> list[str]:
    """Parse a publicsuffix.org-format rules file into the rules list
    (comments / blank lines dropped, both sections kept).  Unicode
    (IDN) rules are converted label-by-label to punycode so they match
    the ASCII hosts the pipeline carries; the list's own punycode
    forms pass through unchanged.  Cached per path."""
    path = path or PSL_DATA_PATH
    cached = _PSL_FILE_CACHE.get(path)
    if cached is not None:
        return cached
    rules: list[str] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("//"):
                continue
            if any(ord(c) > 127 for c in line):
                pre = ""
                if line.startswith("*."):
                    pre, line = "*.", line[2:]
                elif line.startswith("!"):
                    pre, line = "!", line[1:]
                line = pre + ".".join(
                    lab.encode("idna").decode("ascii")
                    if any(ord(c) > 127 for c in lab) else lab
                    for lab in line.split(".")
                )
            rules.append(line)
    assert all(
        _parse_rule(r)[0].count(".") + 1 <= MAX_RULE_LABELS for r in rules
    ), "a rule outgrew MAX_RULE_LABELS; bump the candidate explode bound"
    _PSL_FILE_CACHE[path] = rules
    return rules


def _parse_rule(rule: str) -> tuple[str, str, int]:
    """rule text → (join key, kind, public-suffix length in labels).

    The join key strips the ``*.``/``!`` marker: a wildcard rule
    matches hosts whose suffix equals its BASE (public suffix is one
    label longer); an exception rule matches its full text (public
    suffix is one label shorter)."""
    if rule.startswith("*."):
        key = rule[2:]
        return key, "wildcard", key.count(".") + 2
    if rule.startswith("!"):
        key = rule[1:]
        return key, "exception", key.count(".")
    return rule, "normal", rule.count(".") + 1


def psl_rules_df(spark: SparkSession, rules: list[str] | None = None) -> DataFrame:
    """Rules as a broadcastable dimension (rule_key, ps_len, is_exc).

    JVM-literal build (spark.range + explode of literals) for the
    snapshot: a createDataFrame over a Python list plans a
    Python-worker scan just to broadcast a few dozen rows.  The FULL
    list (~9.5k rules, load_psl_file) goes through createDataFrame
    instead: a 9.5k-struct literal array would bloat the plan tree,
    while one Arrow-batched local scan feeding a broadcast is exactly
    how a production job ships a file-sourced dimension."""
    parsed = [_parse_rule(r) for r in (rules or PSL_SNAPSHOT)]
    if len(parsed) > 200:
        # one-time parquet spill so every subsequent run scans the
        # dimension JVM-side (a createDataFrame per run would pay a
        # Python-worker round trip each time); content-addressed path
        # + atomic rename make it safe across concurrent sessions
        import hashlib
        import tempfile

        rows = [
            (k, ps, 1 if kind == "exception" else 0) for k, kind, ps in parsed
        ]
        digest = hashlib.md5(repr(rows).encode()).hexdigest()[:16]
        path = os.path.join(
            tempfile.gettempdir(), f"psl_rules_{digest}.parquet"
        )
        if not os.path.isdir(path):
            tmp = f"{path}.build-{os.getpid()}"
            spark.createDataFrame(
                rows, "rule_key string, ps_len int, is_exc int"
            ).coalesce(1).write.mode("overwrite").parquet(tmp)
            try:
                os.rename(tmp, path)
            except OSError:  # lost the race: another session published
                import shutil

                shutil.rmtree(tmp, ignore_errors=True)
        return spark.read.parquet(path)
    return spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("rule_key"),
                        F.lit(ps).alias("ps_len"),
                        F.lit(1 if kind == "exception" else 0).alias("is_exc"),
                    )
                    for k, kind, ps in parsed
                ]
            )
        ).alias("r")
    ).select("r.*")


def with_registered_domain(
    df: DataFrame,
    host_col: str = "host",
    out_col: str = "reg_domain",
    id_cols: tuple[str, ...] = ("doc_id",),
    rules: list[str] | None = None,
) -> DataFrame:
    """Append ``out_col`` = the host's registered domain (NULL when the
    host IS a public suffix), resolved against the PSL by
    explode-candidates → broadcast join → arg-max.

    ``id_cols`` must uniquely key ``df`` (the fan-out is re-collapsed
    by grouping on them + the host)."""
    spark = df.sparkSession
    rules_df = psl_rules_df(spark, rules)

    labels = F.split(F.col(host_col), r"\.")
    nl = F.size(labels)
    cand = df.select(
        *id_cols,
        host_col,
        labels.alias("_labels"),
        nl.alias("_nl"),
        F.explode(F.sequence(F.lit(1), F.least(nl, F.lit(MAX_RULE_LABELS)))).alias(
            "_i"
        ),
    ).withColumn(
        "_cand",
        F.concat_ws(".", F.slice(F.col("_labels"), F.col("_nl") - F.col("_i") + 1, 6)),
    )
    matched = cand.join(
        F.broadcast(rules_df), cand["_cand"] == rules_df["rule_key"], "left"
    )
    # priority: exception rules beat all; then longest public suffix.
    # The implicit '*' rule (ps_len 1) applies when nothing matched.
    best = matched.groupBy(*id_cols, host_col, "_nl").agg(
        F.max(
            F.struct(
                F.coalesce("is_exc", F.lit(0)).alias("is_exc"),
                F.coalesce("ps_len", F.lit(1)).alias("ps_len"),
            )
        ).alias("_best")
    )
    # wildcard match requires the host to actually HAVE the extra
    # label: a host equal to the wildcard base falls back to the base
    # rule semantics via the ps_len<=nl clamp below either way.
    ps_len = F.least(F.col("_best.ps_len"), F.col("_nl"))
    reg = F.when(
        F.col("_nl") > ps_len,
        F.concat_ws(
            ".",
            F.slice(
                F.split(F.col(host_col), r"\."),
                F.col("_nl") - ps_len,
                ps_len + 1,
            ),
        ),
    )
    return best.select(*id_cols, host_col, reg.alias(out_col))


def registered_domain(host: str, rules: list[str] | None = None) -> str | None:
    """Pure-Python twin of :func:`with_registered_domain` (tests +
    driver-side use); identical rule semantics."""
    parsed = [_parse_rule(r) for r in (rules or PSL_SNAPSHOT)]
    by_key: dict[str, tuple[int, int]] = {}
    for key, kind, ps in parsed:
        is_exc = 1 if kind == "exception" else 0
        cur = by_key.get(key)
        cand = (is_exc, ps)
        if cur is None or cand > cur:
            by_key[key] = cand
    labels = host.split(".")
    nl = len(labels)
    best = (0, 1)  # implicit '*' rule
    for i in range(1, min(nl, MAX_RULE_LABELS) + 1):
        cand = ".".join(labels[nl - i :])
        hit = by_key.get(cand)
        if hit is not None and hit > best:
            best = hit
    ps_len = min(best[1], nl)
    if nl <= ps_len:
        return None
    return ".".join(labels[nl - ps_len - 1 :])


def psl_join_sql(
    input_cte: str,
    host_col: str = "host",
    id_col: str = "doc_id",
    rules: list[str] | None = None,
) -> str:
    """DuckDB twin of :func:`with_registered_domain`, as a chain of CTE
    definitions to splice after ``input_cte`` inside an oracle's WITH
    clause.  The final CTE ``{input_cte}_psl`` holds
    (``id_col``, ``host_col``, reg_domain) with one row per input row.

    Set-based on purpose — DuckDB's ``generate_series`` can't take a
    lateral (per-row) bound, and a correlated scalar subquery per host
    would be a different plan shape from the Spark side anyway.  This
    is the same explode → join → arg-max pipeline."""
    parsed = [_parse_rule(r) for r in (rules or PSL_SNAPSHOT)]
    rows = ", ".join(
        f"('{k}', {ps}, {1 if kind == 'exception' else 0})"
        for k, kind, ps in parsed
    )
    p = input_cte
    return f"""{p}_cand AS (
  SELECT {id_col},
         {host_col} AS _host,
         string_split({host_col}, '.') AS _ls,
         len(string_split({host_col}, '.')) AS _nl,
         g.i AS _i
  FROM {p}, generate_series(1, {MAX_RULE_LABELS}) AS g(i)
  WHERE g.i <= len(string_split({host_col}, '.'))
),
{p}_rules(rule_key, ps_len, is_exc) AS (VALUES {rows}),
{p}_best AS (
  SELECT {id_col}, any_value(_host) AS _host, any_value(_nl) AS _nl,
         max(struct_pack(is_exc := coalesce(r.is_exc, 0),
                         ps_len := coalesce(r.ps_len, 1))) AS _b
  FROM {p}_cand c
  LEFT JOIN {p}_rules r ON array_to_string(c._ls[-c._i:], '.') = r.rule_key
  GROUP BY {id_col}
),
{p}_psl AS (
  SELECT {id_col}, _host AS {host_col},
         CASE WHEN _nl > least(_b.ps_len, _nl)
              THEN array_to_string(
                     string_split(_host, '.')[-(least(_b.ps_len, _nl) + 1):], '.')
         END AS reg_domain
  FROM {p}_best
)"""
