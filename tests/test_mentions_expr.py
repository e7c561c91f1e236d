"""mentions_expr (JVM regexp_extract_all) must match Python's
re.findall over the same dictionary regex (ENTITY_RE) — the mention
scan runs in the JVM and its matches must be identical."""

from prec_spark.text.mentions import ENTITY_RE, mentions_expr

CASES = [
    "Ann told Dan about part 5 in line 2.",
    "Nadia told Omar about part 1 in line 1.",
    "Biden told Ann about part 9 in line 3.",
    "no entities here",
    "AnnDan glued together should not match",
    "Ann, Dan! Ann",            # repeated + punctuation boundaries
    "Teresa told Teresa about part 0 in line 0.",
    "",
]


def test_expr_matches_python_findall(spark):
    df = spark.createDataFrame([(t,) for t in CASES], "text string")
    got = [r["m"] for r in df.select(mentions_expr().alias("m")).collect()]
    want = [ENTITY_RE.findall(t) for t in CASES]
    assert got == want
