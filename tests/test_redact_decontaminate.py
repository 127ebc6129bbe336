"""PII redaction.

pii_scrub: sequential count-then-redact semantics (each pattern sees the
previous patterns' output), counts auditable from the redacted text, zero
shuffle.
"""

from pyspark.sql import functions as F

from kgx_spark.operators.redact import PII_PATTERNS, pii_scrub


def plan_of(df, mode="simple"):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _scrub_one(spark, text):
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    return pii_scrub(df).collect()[0]


def test_pii_scrub_all_kinds(spark):
    row = _scrub_one(
        spark,
        "mail a.b+c@sub.example.org call +1 (415) 555-0134 "
        "from 192.168.0.1 ssn 219-09-9999 end",
    )
    assert row.text_redacted == "mail [EMAIL] call [PHONE] from [IPV4] ssn [SSN] end"
    assert (row.n_email, row.n_ssn, row.n_ipv4, row.n_phone) == (1, 1, 1, 1)
    assert row.n_pii == 4


def test_pii_scrub_ssn_wins_over_phone(spark):
    # SSN-shaped ids are also phone-shaped; the documented order scrubs
    # them as SSN first, so the phone counter never sees them.
    row = _scrub_one(spark, "id 123-45-6789 only")
    assert row.text_redacted == "id [SSN] only"
    assert row.n_ssn == 1 and row.n_phone == 0


def test_pii_scrub_ipv4_wins_over_phone(spark):
    row = _scrub_one(spark, "ping 10.20.30.40 now")
    assert row.text_redacted == "ping [IPV4] now"
    assert row.n_ipv4 == 1 and row.n_phone == 0


def test_pii_scrub_clean_text_untouched(spark):
    row = _scrub_one(spark, "no personal data here at all")
    assert row.text_redacted == "no personal data here at all"
    assert row.n_pii == 0


def test_pii_scrub_counts_match_tokens(spark):
    # n_<kind> is exactly the number of [<KIND>] tokens in the output.
    row = _scrub_one(
        spark,
        "a@b.io c@d.io 1.2.3.4 5.6.7.8 9.10.11.12 555-867-5309x",
    )
    for kind, n in (("email", row.n_email), ("ipv4", row.n_ipv4),
                    ("ssn", row.n_ssn), ("phone", row.n_phone)):
        assert row.text_redacted.count(f"[{kind.upper()}]") == n


def test_pii_scrub_no_shuffle(spark):
    df = spark.createDataFrame([(1, "x@y.zz")], ["doc_id", "text"])
    p = plan_of(pii_scrub(df))
    assert "Exchange" not in p and "Join" not in p


def test_patterns_are_re2_safe():
    # the oracle replays these in DuckDB (RE2): no lookarounds/backrefs.
    for rx in PII_PATTERNS.values():
        assert "(?<" not in rx and "(?=" not in rx and "(?!" not in rx
        assert "\\1" not in rx
