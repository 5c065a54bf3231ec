"""Unicode script-mix detection: per-document writing-system profile.

ops/textstats.py's ``text_lang_id`` separates LANGUAGES that share the
Latin alphabet (stopword n-grams); this operator answers the prior,
cheaper routing question every multilingual pipeline asks first: what
WRITING SYSTEM is the document in?  Script detection by Unicode block
counting is the standard first stage (CLD3 and fastText lang-id both
gate on script before model dispatch; OSCAR, Abadji et al. 2022,
arXiv:2201.06642, buckets Common Crawl by script+language — all
public).  Mixed-script documents (a Latin page with an injected CJK
spam block, transliteration farms) are also a quality signal on their
own.

Five counted classes, by Unicode block:

* Latin      ``A-Za-z``
* Cyrillic   ``U+0400-U+04FF``
* Greek      ``U+0370-U+03FF``
* CJK        ``U+4E00-U+9FFF`` (unified ideographs, BMP)
* Arabic     ``U+0600-U+06FF``

``dominant_script`` is the argmax in that fixed priority order (ties
break toward the earlier class — deterministic in both engines);
``dominant_ppm`` is its exact-integer share of all counted letters.
Non-BMP blocks are deliberately out of scope: Spark's ``length``
counts code points but surrogate-pair regex classes differ across
engines, and the five classes above cover the routing decision.

The driver's synthetic documents are ASCII, so both engines append
the same per-``doc_id % 5`` snippet (pure string literal concat) to
make the profile non-trivial; on a real corpus the derivation
disappears and the same projection runs over the text column.

Scale design: scan-local projection — per-class counts via
``length(t) - length(regexp_replace(t, class, ''))``, integer ppm
arithmetic, ZERO exchanges at any corpus size (plan-asserted:
``scriptmix-scan-local``).  All JVM-side regex inside
WholeStageCodegen; no Python, no shuffle, no floats.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from pdf_parser_spark.ops.common import load_table

# Per-slot snippets (BMP only).  Slot 0 stays pure Latin.
SNIPPETS: list[str] = [
    "",
    " Привет мир"
    " новости",          # Cyrillic
    " καλημερα"
    " κοσμε",                      # Greek
    " 你好世界新闻网页"
    " 文本分析",                            # CJK
    " مرحبا بال"
    "عالم",                             # Arabic
]

# (name, Java-regex class, RE2 class) — priority order for ties.
SCRIPT_CLASSES: list[tuple[str, str, str]] = [
    ("latin", "[A-Za-z]", "[A-Za-z]"),
    ("cyrillic", "[Ѐ-ӿ]", "[\\x{0400}-\\x{04FF}]"),
    ("greek", "[Ͱ-Ͽ]", "[\\x{0370}-\\x{03FF}]"),
    ("cjk", "[一-鿿]", "[\\x{4E00}-\\x{9FFF}]"),
    ("arabic", "[؀-ۿ]", "[\\x{0600}-\\x{06FF}]"),
]

MIXED_MIN_PPM = 50_000  # >=5% in a second script -> mixed_script


def _aug(text: Column, doc_id: Column) -> Column:
    """text + per-slot snippet, the shared Spark/oracle derivation."""
    out = text
    branches = F.lit(SNIPPETS[0])
    for i, s in enumerate(SNIPPETS[1:], start=1):
        branches = F.when(doc_id % 5 == i, F.lit(s)).otherwise(branches)
    return F.concat(out, branches)


def _count(t: Column, java_class: str) -> Column:
    return (F.length(t) - F.length(F.regexp_replace(t, java_class, ""))).cast(
        "long"
    )


def text_script_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_latin, n_cyrillic, n_greek, n_cjk, n_arabic,
    n_letters, dominant_script, dominant_ppm, mixed_script): Unicode
    script profile per document."""
    docs = load_table(spark, sf_dir, "documents")
    t = _aug(F.col("text"), F.col("doc_id"))
    counts = {name: _count(t, jc) for name, jc, _ in SCRIPT_CLASSES}
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    # argmax in priority order: earlier class wins ties
    best = F.lit(SCRIPT_CLASSES[0][0])
    best_n = counts[SCRIPT_CLASSES[0][0]]
    for name, _, _ in SCRIPT_CLASSES[1:]:
        gt = counts[name] > best_n
        best = F.when(gt, F.lit(name)).otherwise(best)
        best_n = F.when(gt, counts[name]).otherwise(best_n)
    dom_ppm = F.when(total > 0, F.call_function("div", best_n * 1_000_000, total)).otherwise(
        F.lit(0).cast("long")
    )
    # mixed: any NON-dominant class holds >= MIXED_MIN_PPM of letters
    # exclude the DOMINANT CLASS BY NAME, not by count value: a doc
    # with exactly tied top classes (50/50 Latin/CJK) is maximally
    # mixed, and a value-equality exclusion would zero BOTH and
    # report it unmixed
    second = None
    for name, _, _ in SCRIPT_CLASSES:
        share_wo_best = F.when(
            F.lit(name) == best, F.lit(0).cast("long")
        ).otherwise(counts[name])
        second = share_wo_best if second is None else F.greatest(second, share_wo_best)
    mixed = F.when(
        total > 0, F.call_function("div", second * 1_000_000, total) >= MIXED_MIN_PPM
    ).otherwise(F.lit(False))
    return docs.select(
        "doc_id",
        *[counts[name].alias(f"n_{name}") for name, _, _ in SCRIPT_CLASSES],
        total.alias("n_letters"),
        best.alias("dominant_script"),
        dom_ppm.alias("dominant_ppm"),
        mixed.alias("mixed_script"),
    )


def _aug_sql() -> str:
    branches = " ".join(
        f"WHEN {i} THEN '{s}'" for i, s in enumerate(SNIPPETS) if i > 0
    )
    return f"(text || CASE doc_id % 5 {branches} ELSE '' END)"


def _cnt_sql(texpr: str, re2_class: str) -> str:
    return (
        f"(length({texpr}) - length(regexp_replace({texpr}, '{re2_class}', '', 'g')))"
        "::BIGINT"
    )


def _script_detect_sql() -> str:
    cnt = {name: _cnt_sql("t", rc) for name, _, rc in SCRIPT_CLASSES}
    names = [name for name, _, _ in SCRIPT_CLASSES]
    total = " + ".join(cnt[n] for n in names)
    # argmax with earlier-class-wins ties: class i wins iff it is
    # strictly greater than every earlier class and >= every later one
    arms = []
    for i, n in enumerate(names):
        conds = [f"{cnt[n]} > {cnt[m]}" for m in names[:i]] + [
            f"{cnt[n]} >= {cnt[m]}" for m in names[i + 1:]
        ]
        arms.append(
            "WHEN " + " AND ".join(conds or ["TRUE"]) + f" THEN '{n}'"
        )
    dominant = "CASE " + " ".join(arms) + " END"
    best_n = f"greatest({', '.join(cnt[n] for n in names)})"
    # exclude the dominant class by NAME (ties stay mixed — see the
    # Spark-side comment)
    second = (
        "greatest("
        + ", ".join(
            f"(CASE WHEN '{n}' = ({dominant}) THEN 0 ELSE {cnt[n]} END)"
            for n in names
        )
        + ")"
    )
    cols = ",\n       ".join(f"{cnt[n]} AS n_{n}" for n in names)
    return f"""
WITH aug AS (SELECT doc_id, {_aug_sql()} AS t FROM documents)
SELECT doc_id,
       {cols},
       ({total})::BIGINT AS n_letters,
       {dominant} AS dominant_script,
       (CASE WHEN ({total}) > 0
             THEN {best_n} * 1000000 // ({total}) ELSE 0 END)::BIGINT
         AS dominant_ppm,
       (CASE WHEN ({total}) > 0
             THEN ({second} * 1000000 // ({total})) >= {MIXED_MIN_PPM}
             ELSE FALSE END) AS mixed_script
FROM aug
"""


TEXT_SCRIPT_DETECT_SQL = _script_detect_sql()


QUERIES = {
    "text_script_detect": (text_script_detect, TEXT_SCRIPT_DETECT_SQL),
}
