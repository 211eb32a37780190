"""Data-quality split, and compaction / SCD1 / SCD2 merges on versioned
parquet tables."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_estate_project1_etl_spark.operators.quality import (
    properties_rules,
    validate,
)
from real_estate_project1_etl_spark.sinks import versioned as V


def test_validate_routes_and_names_violations(spark):
    df = spark.createDataFrame(
        [
            (100, 50, "Praha", "/n/1"),
            (-5, 50, "Praha", "/n/2"),      # price_positive
            (100, -1, "", "/n/3"),          # size_nonnegative + region_known
            (100, 50, "Praha", None),       # link_present (NULL-safe)
        ],
        "price_czk int, size_m2 int, region string, link string",
    )
    valid, quarantined = validate(df, properties_rules())
    assert [r.link for r in valid.collect()] == ["/n/1"]
    bad = {r.link: sorted(r._violations) for r in quarantined.collect()}
    assert bad["/n/2"] == ["price_positive"]
    assert bad["/n/3"] == ["region_known", "size_nonnegative"]
    assert bad[None] == ["link_present"]
    # no row lost: the two sides partition the input
    assert valid.count() + quarantined.count() == df.count()


def test_compaction_reduces_file_count(spark, tmp_path):
    path = str(tmp_path / "frag")
    # 40 tiny files (streaming-append pattern)
    V.create_or_replace(spark.range(0, 40_000).repartition(40), path)
    before = V.history(path)[-1]["n_files"]
    assert before == 40
    V.compact(spark, path)
    after = V.history(path)[-1]["n_files"]
    assert after < before
    back = V.read_snapshot(spark, path)
    assert back.count() == 40_000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(40_000))


def test_upsert_parquet_scd1(spark, tmp_path):
    path = str(tmp_path / "tbl")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k int, name string, v int"
    )
    V.upsert(spark, v1, path, ["k"])
    assert {tuple(r) for r in V.read_snapshot(spark, path).collect()} == {
        (1, "a", 10), (2, "b", 20)
    }
    # update key 2, insert key 3 -> key 1 untouched, key 2 replaced
    v2 = spark.createDataFrame(
        [(2, "b2", 21), (3, "c", 30)], "k int, name string, v int"
    )
    V.upsert(spark, v2, path, ["k"])
    assert {tuple(r) for r in V.read_snapshot(spark, path).collect()} == {
        (1, "a", 10), (2, "b2", 21), (3, "c", 30)
    }
    # idempotent re-apply
    V.upsert(spark, v2, path, ["k"])
    assert V.read_snapshot(spark, path).count() == 3


def test_scd2_upsert_keeps_history(spark, tmp_path):
    path = str(tmp_path / "dim")
    v1 = spark.createDataFrame(
        [(1, "praha", 100), (2, "brno", 200)], "k bigint, city string, v int"
    ).withColumn("eff", F.lit("2026-01-01"))
    V.scd2_upsert(spark, v1, path, ["k"], "eff")

    t1 = V.read_snapshot(spark, path)
    assert t1.count() == 2
    assert t1.filter(F.col("_valid_to").isNull()).count() == 2

    # k=1 changes, k=2 unchanged, k=3 new
    v2 = spark.createDataFrame(
        [(1, "praha", 150), (2, "brno", 200), (3, "plzen", 300)],
        "k bigint, city string, v int",
    ).withColumn("eff", F.lit("2026-02-01"))
    V.scd2_upsert(spark, v2, path, ["k"], "eff")

    t2 = V.read_snapshot(spark, path)
    rows = {(r["k"], r["_valid_from"], r["_valid_to"], r["v"]) for r in t2.collect()}
    assert rows == {
        (1, "2026-01-01", "2026-02-01", 100),  # closed old version
        (1, "2026-02-01", None, 150),          # new open version
        (2, "2026-01-01", None, 200),          # untouched (no phantom close)
        (3, "2026-02-01", None, 300),          # brand-new key
    }

    # idempotent: same batch again changes nothing
    V.scd2_upsert(spark, v2, path, ["k"], "eff")
    t3 = V.read_snapshot(spark, path)
    assert t3.count() == 4

    # as-of query surfaces exactly one version per key
    asof = t3.filter(
        (F.col("_valid_from") <= "2026-01-15")
        & (F.col("_valid_to").isNull() | (F.col("_valid_to") > "2026-01-15"))
    )
    assert {(r["k"], r["v"]) for r in asof.collect()} == {(1, 100), (2, 200)}


def test_observe_metrics_single_pass_write(spark, tmp_path):
    from real_estate_project1_etl_spark.operators.quality import (
        observe_metrics,
        standard_write_metrics,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0), (4, 20.0)], "k bigint, v double"
    )
    rules = {"v_present": F.col("v").isNotNull(), "v_nonneg": F.col("v") >= 0}
    observed, obs = observe_metrics(df, standard_write_metrics(rules))
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))

    got = obs.get
    assert got["n_rows"] == 4
    assert got["violations_v_present"] == 1
    # NULL v fails the >= predicate too (coalesced to a violation)
    assert got["violations_v_nonneg"] == 2
    # the write itself saw every row (metrics didn't fork the plan)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 4


def test_gopher_repetition_hand_computed(spark):
    from real_estate_project1_etl_spark.operators.textstats import (
        gopher_repetition,
    )

    df = spark.createDataFrame(
        [
            # top 2-gram "a b" cnt=3, len 3, chars 11 -> 9/11
            (1, "a b a b a b"),
            # 9 words, tie "x y"/"y z" cnt=3 -> lexicographic "x y";
            # dup 5-grams cover [1,17] entirely -> 1.0
            (2, "x y z x y z x y z"),
            (3, "q"),
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r.asDict() for r in gopher_repetition(df).collect()
    }
    assert abs(got[1]["top_2gram_char_frac"] - 9 / 11) < 1e-12
    assert got[1]["dup_5gram_char_frac"] == 0.0  # both 5-grams unique
    assert abs(got[2]["top_2gram_char_frac"] - 9 / 17) < 1e-12
    assert got[2]["dup_5gram_char_frac"] == 1.0
    assert got[3]["top_2gram_char_frac"] == 0.0
    assert got[3]["dup_10gram_char_frac"] == 0.0


def test_audit_constraints_planted_violations(spark):
    # every rule kind, each with a known violation count planted
    from real_estate_project1_etl_spark.operators.audit import (
        audit_constraints,
    )

    rows = [
        # (id, price, status, code)
        (1, 10.0, "O", "1-A"),
        (2, -5.0, "F", "2-B"),      # price out of range
        (3, None, "X", "9-C"),      # bad status; bad code prefix; null price OK
        (None, 20.0, "O", "1-D"),   # null id
        (5, 999.0, "P", "zzz"),     # bad code format
        (5, 11.0, "O", "1-E"),      # duplicate id
        (5, 12.0, "O", "1-F"),      # duplicate id again
        (7, 13.0, "O", "3-G"),      # orphan: 7 not in ref
    ]
    df = spark.createDataFrame(
        rows, "id long, price double, status string, code string"
    )
    ref = spark.createDataFrame(
        [(1,), (2,), (3,), (5,)], "k long"
    )
    rules = [
        {"rule": "id_not_null", "kind": "not_null", "col": "id"},
        {"rule": "price_range", "kind": "in_range", "col": "price",
         "lo": 0, "hi": 100},
        {"rule": "status_domain", "kind": "in_set", "col": "status",
         "values": ["O", "F", "P"]},
        {"rule": "code_format", "kind": "matches", "col": "code",
         "pattern": "^[1-3]-"},
        {"rule": "id_unique", "kind": "unique", "cols": ["id"]},
        {"rule": "id_fk", "kind": "foreign_key", "col": "id",
         "ref": ref, "ref_col": "k"},
    ]
    got = {
        r.rule: r.n_violations
        for r in audit_constraints(df, rules).collect()
    }
    assert got == {
        "id_not_null": 1,
        "price_range": 2,      # -5.0 and 999.0
        "status_domain": 1,    # X
        "code_format": 2,      # 9-C and zzz
        "id_unique": 2,        # two extra rows for id=5
        "id_fk": 1,            # id=7 (NULL id is not an FK violation)
    }


# --------------------------------------------------------------------------
# Payment-card PII (textstats.luhn_* / scrub_payment_cards)
# --------------------------------------------------------------------------


def test_luhn_valid_known_vectors(spark):
    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.textstats import luhn_valid

    # real test numbers (Visa/MC/Amex docs) + off-by-one corruptions
    vectors = [
        ("4111111111111111", True),
        ("5500005555555559", True),
        ("378282246310005", True),   # 15-digit Amex
        ("4111111111111112", False),
        ("1234567812345678", False),
    ]
    df = spark.createDataFrame(vectors, "num string, expect boolean")
    got = df.select("num", "expect", luhn_valid(F.col("num")).alias("got")).collect()
    for r in got:
        assert r.got == r.expect, r.num


def test_scrub_payment_cards_conditional_and_separator_tolerant(spark):
    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.textstats import (
        scrub_payment_cards,
    )

    txt = "pay 4532015112830366 not 4532015112830367 also 4111 1111 1111 1111 end"
    df = spark.createDataFrame([(txt,)], "text string")
    strict, tolerant = df.select(
        scrub_payment_cards(F.col("text")).alias("a"),
        scrub_payment_cards(F.col("text"), tolerate_separators=True).alias("b"),
    ).first()
    # valid contiguous number scrubbed; Luhn-INVALID one preserved verbatim
    assert strict == "pay <CARD> not 4532015112830367 also 4111 1111 1111 1111 end"
    # separator-tolerant form also catches the spaced card
    assert tolerant == "pay <CARD> not 4532015112830367 also <CARD> end"


def test_separator_tolerant_scrub_uses_maximal_runs(spark):
    # ADVICE round 3: the tolerant path must mirror the contiguous fix —
    # candidates are maximal [0-9 -] runs, never 13-19-digit WINDOWS inside
    # longer runs, and the rewrite is token-wise, never a substring splice.
    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.textstats import (
        find_payment_cards,
        scrub_payment_cards,
    )

    cases = [
        # 23-digit id: the old _CARD_SEP_RX matched its first 19 digits
        ("ref 12345678901234567890123 x", "ref 12345678901234567890123 x"),
        # 24 digits WITH separators: grouping plausible but too many digits
        ("n 1234 5678 9012 3456 7890 1234 e", "n 1234 5678 9012 3456 7890 1234 e"),
        # valid card digits EMBEDDED in a longer separated run (trailing
        # ' 7' group): one maximal run, not a card — the old fold-replace
        # found the window and spliced '<CARD> 7' into the longer number
        ("q 4111 1111 1111 1111 7 z", "q 4111 1111 1111 1111 7 z"),
        # scattered number column: 13 digits but 7 groups / 1-digit groups
        ("scores 12 34 56 78 90 12 3 end", "scores 12 34 56 78 90 12 3 end"),
        # the real thing still scrubs, spacing around it preserved
        ("pay 4111 1111 1111 1111 now", "pay <CARD> now"),
        ("pay 4111-1111-1111-1111.", "pay <CARD>."),
        # same card twice, both caught
        ("a 4111 1111 1111 1111 b 4111 1111 1111 1111 c", "a <CARD> b <CARD> c"),
    ]
    df = spark.createDataFrame(cases, "text string, want string")
    rows = df.select(
        "text", "want",
        scrub_payment_cards(F.col("text"), tolerate_separators=True).alias("got"),
        find_payment_cards(F.col("text"), tolerate_separators=True).alias("found"),
    ).collect()
    for r in rows:
        assert r.got == r.want, (r.text, r.got)
        assert len(r.found) == r.want.count("<CARD>"), (r.text, r.found)


def _luhn_model(digits: str) -> bool:
    s = 0
    for i, ch in enumerate(reversed(digits)):
        v = int(ch)
        if i % 2 == 1:
            v = v * 2
            if v > 9:
                v -= 9
        s += v
    return s % 10 == 0


def _scrub_model(text: str) -> str:
    # independent python twin of the separator-tolerant scrub: maximal
    # [0-9 -] runs, plausible grouping, 13-19 Luhn-valid digits
    import re as _re

    out = []
    for tok in _re.findall(r"[0-9 -]+|[^0-9 -]+", text):
        core = tok.strip(" -")
        digits = _re.sub(r"[ -]", "", core)
        if (
            _re.fullmatch(r"[0-9]{2,}(?:[ -][0-9]{2,}){0,5}", core)
            and 13 <= len(digits) <= 19
            and _luhn_model(digits)
        ):
            lead = tok[: len(tok) - len(tok.lstrip(" -"))]
            trail = tok[len(tok.rstrip(" -")):] if tok.strip(" -") else ""
            out.append(lead + "<CARD>" + trail)
        else:
            out.append(tok)
    return "".join(out)


def _mint_card(rng, n_digits: int, sep: str) -> str:
    # build a Luhn-VALID number: random body + computed check digit
    body = "".join(str(rng.randint(0, 9)) for _ in range(n_digits - 1))
    for cd in range(10):
        if _luhn_model(body + str(cd)):
            break
    num = body + str(cd)
    if not sep:
        return num
    groups = [num[i:i + 4] for i in range(0, len(num), 4)]
    return sep.join(groups)


def test_separator_tolerant_scrub_differential_fuzz(spark):
    # randomized texts mixing words, ids, minted valid cards (contiguous /
    # spaced / dashed), invalid near-cards and punctuation — Spark
    # expression tree vs the independent python model, exact string
    # compare. Catches agreement-breaking regex/HOF drift the handful of
    # hand-picked cases cannot.
    import random as _r

    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.textstats import (
        scrub_payment_cards,
    )

    texts = []
    for i in range(120):
        rng = _r.Random(7000 + i)
        parts = []
        for _ in range(rng.randint(1, 8)):
            kind = rng.randint(0, 6)
            if kind == 0:
                parts.append(rng.choice(["pay", "ref", "order", "tel:", "#", ",", "-"]))
            elif kind == 1:
                parts.append("".join(str(rng.randint(0, 9)) for _ in range(rng.randint(1, 25))))
            elif kind == 2:
                parts.append(_mint_card(rng, rng.choice([13, 15, 16, 19]), rng.choice(["", " ", "-"])))
            elif kind == 3:
                # corrupt a minted card (usually Luhn-invalid)
                c = _mint_card(rng, 16, " ")
                parts.append(c[:-1] + str((int(c[-1]) + 1) % 10))
            elif kind == 4:
                parts.append(" ".join(str(rng.randint(0, 99)) for _ in range(rng.randint(3, 8))))
            elif kind == 5:
                parts.append(_mint_card(rng, 16, " ") + " " + str(rng.randint(0, 9)))
            else:
                parts.append(rng.choice(["x-1", "a--b", " - ", "12-34", "2024-01-02"]))
        texts.append(" ".join(parts))
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        r.text: r.s
        for r in df.select(
            "text",
            scrub_payment_cards(F.col("text"), tolerate_separators=True).alias("s"),
        ).collect()
    }
    for t in texts:
        assert got[t] == _scrub_model(t), (t, got[t], _scrub_model(t))


def test_suspicious_digit_run_quarantines_fail_open_rows(spark):
    # the scrub is fail-open by design (a card abutting digits merges into
    # an undecidable run and ships unscrubbed); the quarantine predicate
    # on the SCRUBBED output must flag exactly those rows
    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.textstats import (
        has_suspicious_digit_run,
        scrub_payment_cards,
    )

    cases = [
        # clean scrub -> placeholder only, nothing suspicious remains
        ("pay 4111 1111 1111 1111 now", False),
        # card glued to digit groups: unscrubbed 20+-digit run -> flagged
        ("total 12 34 4111 1111 1111 1111", True),
        # long id, no card: still card-scale digit mass -> flagged (review)
        ("ref 12345678901234567890123", True),
        # ordinary text and small numbers: clean
        ("order 1234 qty 56", False),
        ("no digits at all", False),
    ]
    df = spark.createDataFrame(cases, "text string, want boolean")
    rows = df.select(
        "want",
        has_suspicious_digit_run(
            scrub_payment_cards(F.col("text"), tolerate_separators=True)
        ).alias("got"),
        "text",
    ).collect()
    for r in rows:
        assert r.got == r.want, r.text


def test_cap_per_key_rejects_key_only_ordering(spark):
    import pytest

    from real_estate_project1_etl_spark.operators.quality import cap_per_key

    df = spark.range(10).select(F.lit("k").alias("k"), F.col("id"))
    with pytest.raises(ValueError, match="order_key_cols"):
        cap_per_key(df, ["k"], 3, ["k"])


def test_scrub_payment_cards_no_candidates_is_identity(spark):
    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.textstats import (
        scrub_payment_cards,
    )

    df = spark.createDataFrame([("no digits here", ), ("short 123456", )], "text string")
    out = [r.s for r in df.select(scrub_payment_cards(F.col("text")).alias("s")).collect()]
    assert out == ["no digits here", "short 123456"]


def test_card_candidates_are_maximal_digit_runs(spark):
    # ADVICE round 2: a 20+-digit id must yield NO candidate (its 19-digit
    # prefix may pass Luhn by chance); a real card glued to other digits is
    # one long run, not a card; the same card twice with single-char
    # separators is caught both times; and a card's digit string embedded
    # inside a longer number elsewhere is never rewritten there.
    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.textstats import (
        find_payment_cards,
        scrub_payment_cards,
    )

    card = "4532015112830366"  # Luhn-valid
    cases = [
        # 26-digit order id containing a Luhn-valid 19-digit prefix zone
        (f"order 12345678901234567890123456 end", []),
        # card absorbed into a longer run -> not found
        (f"ref 99{card} end", []),
        # same card twice, single space apart -> both found + scrubbed
        (f"{card} {card}", [card, card]),
        # valid card AND its digits inside a longer number elsewhere
        (f"pay {card} trace 00{card}11", [card]),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    got = df.select(
        "text",
        find_payment_cards(F.col("text")).alias("found"),
        scrub_payment_cards(F.col("text")).alias("scrubbed"),
    ).collect()
    by_text = {r.text: r for r in got}
    for text, want in cases:
        assert list(by_text[text].found) == want, text
    assert by_text[f"{card} {card}"].scrubbed == "<CARD> <CARD>"
    assert (
        by_text[f"pay {card} trace 00{card}11"].scrubbed
        == f"pay <CARD> trace 00{card}11"
    )


def test_cap_per_key_preserves_caller_rn_column(spark):
    # ADVICE round 4: the old internal rank column was named `_rn`, so a
    # caller DataFrame carrying its own _rn was silently destroyed
    from real_estate_project1_etl_spark.operators.quality import cap_per_key

    df = spark.range(20).select(
        (F.col("id") % 4).alias("k"), F.col("id"), (F.col("id") * 10).alias("_rn")
    )
    out = cap_per_key(df, ["k"], 2, ["id"])
    assert "_rn" in out.columns
    rows = out.collect()
    assert all(r._rn == r.id * 10 for r in rows)  # values intact
    assert len(rows) == 8  # 4 keys x cap 2


def test_cap_per_key_rejects_reserved_internal_name(spark):
    import pytest

    from real_estate_project1_etl_spark.operators.quality import cap_per_key

    df = spark.range(5).select(
        F.lit("k").alias("k"), F.col("id"), F.lit(1).alias("__cap_rn")
    )
    with pytest.raises(ValueError, match="__cap_rn"):
        cap_per_key(df, ["k"], 2, ["id"])


def test_suspicious_digit_run_tolerates_other_separators(spark):
    # ADVICE round 4: dot/underscore-grouped cards are not scrubbable
    # (scrubber classes are space/dash only) but MUST be quarantined —
    # each dot-separated group alone is a 4-digit run below min_digits
    from real_estate_project1_etl_spark.operators.textstats import (
        has_suspicious_digit_run,
        scrub_payment_cards,
    )

    cases = [
        ("pay 4111.1111.1111.1111 now", True),
        ("pay 4111_1111_1111_1111 now", True),
        ("v1.2.3 build 2026.08.14", False),       # low digit mass
        ("ip 192.168.100.200 port 8080", False),  # 12 digits < 13
        ("pay 4111 1111 1111 1111 now", False),   # scrubbable -> clean after scrub
    ]
    df = spark.createDataFrame(cases, "text string, want boolean")
    rows = df.select(
        "want",
        has_suspicious_digit_run(
            scrub_payment_cards(F.col("text"), tolerate_separators=True)
        ).alias("got"),
        "text",
    ).collect()
    for r in rows:
        assert r.got == r.want, r.text


def test_curation_funnel_single_scan_and_short_circuit(spark):
    from real_estate_project1_etl_spark.operators.quality import curation_funnel

    df = spark.createDataFrame(
        [(1, 10, "en"), (2, 200, "en"), (3, 300, None), (4, 400, "de"),
         (5, 50, "de")],
        "id long, n long, lang string",
    )
    out = {
        r["stage"]: r
        for r in curation_funnel(
            df,
            [
                ("long_enough", F.col("n") >= 100),
                # NULL lang must DROP (filter semantics), not pass
                ("lang_known", F.col("lang").isNotNull()),
                ("is_en", F.col("lang") == "en"),
            ],
        ).collect()
    }
    assert out["__input__"]["n_out"] == 5
    assert out["long_enough"]["n_in"] == 5 and out["long_enough"]["n_dropped"] == 2
    assert out["lang_known"]["n_in"] == 3 and out["lang_known"]["n_dropped"] == 1
    assert out["is_en"]["n_out"] == 1
    # cumulative semantics == chained .filter calls
    chained = df.filter(F.col("n") >= 100).filter(
        F.col("lang").isNotNull()
    ).filter(F.col("lang") == "en")
    assert out["is_en"]["n_out"] == chained.count()
    # one scan: a single aggregate, no Exchange beyond the final agg
    plan = (
        curation_funnel(df, [("a", F.col("n") > 0), ("b", F.col("n") > 1)])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan") == 1


def test_curation_funnel_rejects_bad_stage_lists(spark):
    import pytest as _pytest

    from real_estate_project1_etl_spark.operators.quality import curation_funnel

    df = spark.createDataFrame([(1,)], "id long")
    with _pytest.raises(ValueError):
        curation_funnel(df, [])
    with _pytest.raises(ValueError):
        curation_funnel(df, [("x", F.lit(True)), ("x", F.lit(False))])


def test_hashed_linear_classifier_hand_computed(spark):
    # tiny dim so collisions are known; weights crafted by hashing the
    # actual tokens with the same md5_60 the operator uses
    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.quality import (
        hashed_linear_classifier,
    )
    from real_estate_project1_etl_spark.operators.sketch import md5_60

    docs = spark.createDataFrame(
        [(0, "good good text"), (1, "bad stuff"), (2, "")],
        "doc_id long, text string",
    )
    toks = spark.createDataFrame(
        [("good",), ("text",), ("bad",), ("stuff",), ("",)], "w string"
    )
    dim = 64
    fid = {r["w"]: r["f"] for r in toks.select(
        "w", (md5_60("w") % dim).alias("f")).collect()}
    wrows = [(fid["good"], 500), (fid["bad"], -700)]
    # collisions in the small table would make the hand expectation
    # wrong — assert the crafted features are distinct
    assert len({fid["good"], fid["bad"], fid["text"], fid["stuff"],
                fid[""]}) == 5
    weights = spark.createDataFrame(
        wrows, "feature_id long, weight_milli long"
    )
    out = {r["doc_id"]: r for r in hashed_linear_classifier(
        docs, weights, dim=dim, threshold_milli=100).collect()}
    assert out[0]["score_milli"] == 1000 and out[0]["kept"]      # 2 x good
    assert out[1]["score_milli"] == -700 and not out[1]["kept"]
    assert out[2]["score_milli"] == 0 and not out[2]["kept"]     # '' unweighted


def test_pseudonymize_consistent_surrogates(spark):
    import hashlib

    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.textstats import (
        pseudonymize,
    )

    sur = lambda e: "<EMAIL_%s>" % hashlib.md5(  # noqa: E731
        e.lower().encode()).hexdigest()[:6]
    docs = spark.createDataFrame(
        [
            (0, "write to Bob@X.com or alice@y.org now"),
            (1, "bob@x.com again"),           # same identity, diff case
            (2, "no pii here"),
            (3, ""),
            (4, "a@b.io"),                    # match IS the whole text
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["o"] for r in docs.select(
        "doc_id", pseudonymize(F.col("text")).alias("o")).collect()}
    assert out[0] == f"write to {sur('bob@x.com')} or {sur('alice@y.org')} now"
    assert out[1] == f"{sur('bob@x.com')} again"
    assert sur("bob@x.com") in out[0] and sur("bob@x.com") in out[1]
    assert out[2] == "no pii here"
    assert out[3] == ""
    assert out[4] == sur("a@b.io")


def test_snapshot_diff_statuses(spark):
    from real_estate_project1_etl_spark.operators.snapshots import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, None), (5, "new"), (6, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert out == {
        1: "unchanged", 2: "changed", 3: "removed",
        4: "unchanged",  # NULL text both sides: null-safe equality
        5: "added", 6: "added",
    }


def test_rrf_ensemble_hand_computed(spark):
    from real_estate_project1_etl_spark.operators.quality import (
        rrf_ensemble,
    )

    df = spark.createDataFrame(
        # s1 ranks: 10->1(id2), 5->2(id1), 5->3(id3, id tiebreak), NULL->4
        # s2 ranks: 9->1(id4), 7->2(id3), 1->3(id1), 0->4(id2)
        [(1, 5, 1), (2, 10, 0), (3, 5, 7), (4, None, 9)],
        "doc_id long, s1 long, s2 long",
    )
    out = {r["doc_id"]: r for r in rrf_ensemble(
        df, "doc_id", ["s1", "s2"], k=60, scale=1_000_000).collect()}
    S = 1_000_000
    assert out[2]["rank_s1"] == 1 and out[1]["rank_s1"] == 2
    assert out[3]["rank_s1"] == 3 and out[4]["rank_s1"] == 4
    assert out[4]["rank_s2"] == 1 and out[3]["rank_s2"] == 2
    assert out[1]["rrf_scaled"] == S // 62 + S // 63
    assert out[4]["rrf_scaled"] == S // 64 + S // 61


def test_curriculum_shards_order_and_balance(spark):
    import pytest as _pytest

    from real_estate_project1_etl_spark.operators.quality import (
        curriculum_shards,
    )

    df = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(20)] + [(100, None)],
        "doc_id long, score double",
    )
    out = {r["doc_id"]: r["shard_id"] for r in curriculum_shards(
        df, "doc_id", "score", n_shards=3).collect()}
    # ascending: lowest scores (highest ids) first; NULL last
    assert out[100] == 2                       # NULL trains last
    assert out[19] == 0 and out[0] in (1, 2)   # easiest -> shard 0
    from collections import Counter
    sizes = Counter(out.values())
    assert set(sizes) == {0, 1, 2} and max(sizes.values()) - min(
        sizes.values()) <= 1
    # descending flips the order
    out_d = {r["doc_id"]: r["shard_id"] for r in curriculum_shards(
        df, "doc_id", "score", n_shards=3, ascending=False).collect()}
    assert out_d[0] == 0 and out_d[100] == 2   # NULL still last
    with _pytest.raises(ValueError):
        curriculum_shards(df, "doc_id", "score", n_shards=0)


def test_train_hashed_classifier_separates_planted_classes(spark):
    # round-9 verdict item 2: the engine could only SCORE with given
    # weights; training is hard-sigmoid logistic regression in scaled
    # integers (one gradient-sum agg per iteration). Fluent and
    # gibberish docs use disjoint vocabularies, so the trained weights
    # must separate them through the inference operator with a pinned
    # accuracy floor.
    import random

    from real_estate_project1_etl_spark.operators.quality import (
        hashed_linear_classifier,
        train_hashed_classifier,
    )

    rng = random.Random(7)
    fluent = [f"good{i}" for i in range(20)]
    gib = [f"zxq{i}" for i in range(20)]
    rows = []
    for i in range(60):
        ws = fluent if i % 2 == 0 else gib
        rows.append(
            (i, " ".join(rng.choice(ws) for _ in range(30)),
             1 if i % 2 == 0 else 0)
        )
    # a NULL-label doc must be excluded from training (explicit
    # contract), not crash it or poison the weights
    rows.append((999, " ".join(gib), None))
    docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
    w = train_hashed_classifier(docs, dim=256, n_iters=6, lr_num=1, lr_den=32)
    assert w.count() == 256  # every bucket present, untouched ones zero
    scored = hashed_linear_classifier(docs, w, dim=256, threshold_milli=0)
    got = {r["doc_id"]: r["kept"] for r in scored.collect()}
    acc = sum(got[i] == (i % 2 == 0) for i in range(60)) / 60
    assert acc >= 0.95, acc
    # the unlabeled doc still gets scored at inference (as gibberish)
    assert got[999] is not None


def test_train_hashed_classifier_matches_python_model(spark):
    # exact-trajectory check at tiny dim: a pure-python replica of the
    # scaled-integer training loop (same hash, same hard sigmoid, same
    # truncating division) must produce the identical weight vector.
    import hashlib

    from real_estate_project1_etl_spark.operators.quality import (
        train_hashed_classifier,
    )

    texts = {
        0: ("alpha beta alpha gamma", 1),
        1: ("delta epsilon zeta", 0),
        2: ("alpha beta beta", 1),
        3: ("zeta zeta delta", 0),
        4: ("gamma gamma gamma epsilon", 1),
    }
    dim, n_iters, lr_num, lr_den = 16, 4, 1, 8

    def h(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % dim

    def tdiv(a, b):  # truncation toward zero, both engines' semantics
        q = abs(a) // b
        return q if a >= 0 else -q

    feats, ys = {}, {}
    for did, (t, y) in texts.items():
        ys[did] = y
        c: dict = {}
        for tok in t.lower().split():
            c[h(tok)] = c.get(h(tok), 0) + 1
        feats[did] = c
    w = [0] * dim
    for _ in range(n_iters):
        resid = {}
        for did, c in feats.items():
            m = sum(n * w[j] for j, n in c.items())
            p = min(max(500 + tdiv(m, 4), 0), 1000)
            resid[did] = p - 1000 * ys[did]
        grad = [0] * dim
        for did, c in feats.items():
            for j, n in c.items():
                grad[j] += resid[did] * n
        w = [wj - tdiv(g * lr_num, lr_den) for wj, g in zip(w, grad)]

    docs = spark.createDataFrame(
        [(k, t, y) for k, (t, y) in texts.items()],
        "doc_id long, text string, label int",
    )
    got = {
        r["feature_id"]: r["weight_milli"]
        for r in train_hashed_classifier(
            docs, dim=dim, n_iters=n_iters, lr_num=lr_num, lr_den=lr_den
        ).collect()
    }
    assert got == {j: w[j] for j in range(dim)}


def test_train_hashed_classifier_validates_params(spark):
    import pytest as _pytest

    from real_estate_project1_etl_spark.operators.quality import (
        train_hashed_classifier,
    )

    docs = spark.createDataFrame(
        [(0, "x", 1)], "doc_id long, text string, label int"
    )
    for kw in ({"dim": 0}, {"n_iters": 0}, {"lr_den": 0}, {"lr_num": 0}):
        with _pytest.raises(ValueError):
            train_hashed_classifier(docs, **{"dim": 8, **kw})


def test_rrf_ensemble_approx_tracks_exact(spark):
    # sample-rank RRF: approximate ranks must stay within the bucket
    # granularity (+ sampling noise) of the exact global ranks, NULLs
    # must rank worst, and the estimate must be a pure function of row
    # content (stable across repartitioning).
    from pyspark.sql import functions as F

    from real_estate_project1_etl_spark.operators.quality import (
        rrf_ensemble,
        rrf_ensemble_approx,
    )

    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # two incomparable signals; s2 NULL on a slice
        ((F.col("id") * 37) % 1000).cast("bigint").alias("s1"),
        F.when(F.col("id") % 11 != 3, ((F.col("id") * 101) % 500))
        .cast("bigint")
        .alias("s2"),
    )
    exact = {
        r["doc_id"]: (r["rank_s1"], r["rank_s2"])
        for r in rrf_ensemble(df, "doc_id", ["s1", "s2"]).collect()
    }
    approx = {
        r["doc_id"]: (r["rank_s1_approx"], r["rank_s2_approx"])
        for r in rrf_ensemble_approx(
            df, "doc_id", ["s1", "s2"], n_buckets=64, sample_rate=0.25
        ).collect()
    }
    assert set(approx) == set(exact)
    # bucket width is n/64 ~ 62; allow 3 bucket widths for sample noise.
    # Content-tied rows (the NULL-s2 block) share ONE estimate while the
    # exact operator spreads them by id tiebreak — the estimate is only
    # meaningful per tie class, so the tolerance applies to non-NULL
    # entries (the NULL block is pinned by the worst-tail assertion).
    tol = 3 * (n // 64)
    bad = [
        (i, exact[i], approx[i])
        for i in exact
        if abs(exact[i][0] - approx[i][0]) > tol
        or (i % 11 != 3 and abs(exact[i][1] - approx[i][1]) > tol)
    ]
    assert not bad, bad[:5]
    # NULL s2 docs must land in the worst tail of the s2 ranking
    null_ids = [i for i in range(n) if i % 11 == 3]
    non_null_max = max(approx[i][1] for i in exact if i % 11 != 3)
    assert all(approx[i][1] >= non_null_max for i in null_ids)
    # repartition stability: pure function of content
    re = {
        r["doc_id"]: (r["rank_s1_approx"], r["rank_s2_approx"])
        for r in rrf_ensemble_approx(
            df.repartition(13), "doc_id", ["s1", "s2"], n_buckets=64,
            sample_rate=0.25
        ).collect()
    }
    assert re == approx
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_ensemble_approx(df, "doc_id", ["s1"], n_buckets=1)

    # scaled-integer contract (round-10 ADVICE): a double score column
    # must raise, not silently truncate into bigint tie blocks
    dbl = df.withColumn("s1", F.col("s1") / 3.0)
    with _pytest.raises(TypeError, match="integer-typed"):
        rrf_ensemble_approx(dbl, "doc_id", ["s1", "s2"])


def test_train_hashed_classifier_xxhash64_path(spark):
    # the production-hash path must train AND score consistently (same
    # hash_fn on both sides) and still separate planted classes
    import random

    from real_estate_project1_etl_spark.operators.quality import (
        hashed_linear_classifier,
        train_hashed_classifier,
    )

    rng = random.Random(3)
    fluent = [f"good{i}" for i in range(20)]
    gib = [f"zxq{i}" for i in range(20)]
    rows = [
        (i, " ".join(rng.choice(fluent if i % 2 == 0 else gib)
                     for _ in range(30)), 1 if i % 2 == 0 else 0)
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
    w = train_hashed_classifier(
        docs, dim=256, n_iters=6, lr_den=32, hash_fn="xxhash64"
    )
    scored = hashed_linear_classifier(
        docs, w, dim=256, threshold_milli=0, hash_fn="xxhash64"
    )
    got = {r["doc_id"]: r["kept"] for r in scored.collect()}
    acc = sum(got[i] == (i % 2 == 0) for i in range(60)) / 60
    assert acc >= 0.95, acc


def _ref_gopher(texts, top_ns=(2, 3, 4), dup_ns=(5, 6, 7, 8, 9, 10)):
    # python reference of the full battery (independent of BOTH the
    # engine's hashed-key construction and the DuckDB oracle's
    # position arithmetic): true gram strings, per-doc dict counting,
    # explicit interval union.  Pins the round-11 string-free rewrite's
    # edge semantics (lead boundaries, empty/one-word docs, ties).
    import re as _re
    from collections import Counter

    out = {}
    for doc_id, text in texts:
        t = _re.sub(r"\s+", " ", text).strip().lower()
        n_chars = len(t)
        words = t.split(" ")
        starts, pos = [], 1
        for w in words:
            starts.append(pos)
            pos += len(w) + 1
        ends = [s + len(w) - 1 for s, w in zip(starts, words)]
        row = {}
        for n in top_ns:
            c: Counter = Counter(
                " ".join(words[i:i + n])
                for i in range(len(words) - n + 1)
            )
            if c and n_chars:
                g, cnt = sorted(
                    c.items(), key=lambda kv: (-kv[1], -len(kv[0]), kv[0])
                )[0]
                row[f"top_{n}gram_char_frac"] = cnt * len(g) / n_chars
            else:
                row[f"top_{n}gram_char_frac"] = 0.0
        for n in dup_ns:
            c = Counter(
                " ".join(words[i:i + n])
                for i in range(len(words) - n + 1)
            )
            spans = sorted(
                (starts[i], ends[i + n - 1])
                for i in range(len(words) - n + 1)
                if c[" ".join(words[i:i + n])] >= 2
            )
            cov, cur_s, cur_e = 0, None, None
            for s, e in spans:
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        cov += cur_e - cur_s + 1
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                cov += cur_e - cur_s + 1
            row[f"dup_{n}gram_char_frac"] = (
                cov / n_chars if cov and n_chars else 0.0
            )
        out[doc_id] = row
    return out


def test_fuzz_gopher_repetition_matches_python_model(spark):
    import random

    from real_estate_project1_etl_spark.operators.textstats import (
        gopher_repetition,
    )

    rng = random.Random(1107)
    vocab = ["aa", "b", "ccc", "dd", "e", "foo"]
    texts = [
        (0, ""),                       # empty -> all 0.0
        (1, "solo"),                   # one word, no grams
        (2, "b b b b b b b b b b b b"),  # one symbol repeated: every n dup
        (3, "  aa   b  ccc "),         # messy whitespace, no repeats
    ]
    for i in range(4, 24):
        nw = rng.randint(2, 30)
        texts.append(
            (i, " ".join(rng.choice(vocab) for _ in range(nw)))
        )
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        r["doc_id"]: {k: r[k] for k in r.asDict() if k != "doc_id"}
        for r in gopher_repetition(df).collect()
    }
    want = _ref_gopher(texts)
    assert got == want, {
        d: (got[d], want[d]) for d in want if got[d] != want[d]
    }


# --------------------------------------------------------------------------
# DSIR importance weights (round 12)
# --------------------------------------------------------------------------


def _dsir_python_model(rows, target_ids, dim, scale):
    """Exact python mirror of quality.dsir_importance_weights."""
    import hashlib
    import re as _re

    def grams(text):
        if text is None:
            return []
        ws = _re.sub(r"\s+", " ", text).strip().lower().split(" ")
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    def fid(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % dim

    feats = {}  # doc -> {fid: n}
    for doc_id, text in rows:
        d = feats.setdefault(doc_id, {})
        for g in grams(text):
            f = fid(g)
            d[f] = d.get(f, 0) + 1
    c_r, c_t = {}, {}
    for doc_id, d in feats.items():
        for f, n in d.items():
            c_r[f] = c_r.get(f, 0) + n
            if doc_id in target_ids:
                c_t[f] = c_t.get(f, 0) + n
    n_r, n_t = sum(c_r.values()), sum(c_t.values())
    ratio = {
        f: ((c_t.get(f, 0) + 1) * (n_r + dim) * scale)
        // ((c + 1) * (n_t + dim))
        for f, c in c_r.items()
    }
    out = {}
    for doc_id, d in feats.items():
        n_grams = sum(d.values())
        if n_grams == 0:
            out[doc_id] = (0, None)
        else:
            s = sum(n * ratio[f] for f, n in d.items())
            out[doc_id] = (n_grams, s // n_grams)
    return out


def test_dsir_weights_match_python_model(spark):
    import random

    from real_estate_project1_etl_spark.operators.quality import (
        dsir_importance_weights,
    )

    rng = random.Random(1205)
    target_vocab = ["the", "of", "science", "theory", "model"]
    junk_vocab = ["zzz", "qqq", "xxыx", "111", "###"]
    rows = [(0, None), (1, ""), (2, "the theory of science")]
    for i in range(3, 40):
        vocab = target_vocab if i % 2 else junk_vocab
        rows.append(
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
        )
    target_ids = {i for i, _ in rows if i % 2 and i >= 3}
    dim, scale = 64, 1_000_000

    df = spark.createDataFrame(rows, "doc_id long, text string")
    tgt = df.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") >= 3))
    got = {
        r["doc_id"]: (r["n_grams"], r["dsir_weight_ppm"])
        for r in dsir_importance_weights(df, tgt, dim=dim, scale=scale).collect()
    }
    want = _dsir_python_model(rows, target_ids, dim, scale)
    # NULL-text doc: no grams, NULL weight
    assert want[0] == (0, None)
    assert got == want, {
        d: (got[d], want[d]) for d in want if got.get(d) != want[d]
    }
    # selection sanity: target-vocab docs out-weight junk docs
    tgt_like = [got[i][1] for i, _ in rows if i >= 3 and i % 2]
    junk = [got[i][1] for i, _ in rows if i >= 3 and not i % 2]
    assert min(tgt_like) > max(junk)


def test_dsir_weights_empty_target(spark):
    from real_estate_project1_etl_spark.operators.quality import (
        dsir_importance_weights,
    )

    df = spark.createDataFrame(
        [(1, "a b"), (2, "c")], "doc_id long, text string"
    )
    out = dsir_importance_weights(
        df, df.limit(0), dim=16, scale=1000
    ).collect()
    # empty target: every bucket gets the same c_t=0 numerator — weights
    # defined (no div-by-zero), uniform up to the per-bucket c_r
    assert len(out) == 2
    assert all(r["dsir_weight_ppm"] is not None for r in out)


def test_grouped_rank_buckets_hand_computed(spark):
    import pytest

    from real_estate_project1_etl_spark.operators.quality import (
        grouped_rank_buckets,
    )

    rows = [
        # lang a: 7 docs, scores force order d1..d7 (desc);
        # buckets of 7 into 3: sizes 3,2,2 -> rk*3//7
        ("a", 1, 70), ("a", 2, 60), ("a", 3, 60), ("a", 4, 40),
        ("a", 5, 30), ("a", 6, 20), ("a", 7, 10),
        # lang b: 2 docs (fewer than buckets): rk*3//2 -> 0, 1
        ("b", 8, 5), ("b", 9, 99),
        # lang c: 1 doc -> bucket 0
        ("c", 10, 1),
    ]
    df = spark.createDataFrame(rows, "lang string, doc_id long, score long")
    got = {
        r["doc_id"]: r["bucket"]
        for r in grouped_rank_buckets(df, "lang", "score", "doc_id", 3).collect()
    }
    assert got == {
        1: 0, 2: 0, 3: 0,          # ties (60,60) break on doc_id
        4: 1, 5: 1,
        6: 2, 7: 2,
        9: 0, 8: 1,                 # desc: 99 first
        10: 0,
    }
    with pytest.raises(ValueError, match="n_buckets"):
        grouped_rank_buckets(df, "lang", "score", "doc_id", 0)


def test_grouped_rank_buckets_ascending(spark):
    from real_estate_project1_etl_spark.operators.quality import (
        grouped_rank_buckets,
    )

    df = spark.createDataFrame(
        [("x", 1, 10), ("x", 2, 20), ("x", 3, 30), ("x", 4, 40)],
        "g string, doc_id long, score long",
    )
    got = {
        r["doc_id"]: r["bucket"]
        for r in grouped_rank_buckets(
            df, "g", "score", "doc_id", 2, descending=False
        ).collect()
    }
    assert got == {1: 0, 2: 0, 3: 1, 4: 1}


def test_fuzz_grouped_rank_buckets_matches_python_model(spark):
    import random

    from real_estate_project1_etl_spark.operators.quality import (
        grouped_rank_buckets,
    )

    rng = random.Random(1213)
    for trial in range(3):
        n_buckets = rng.choice([1, 2, 3, 5])
        rows = []
        did = 0
        for g in range(rng.randint(1, 6)):
            # skewed group sizes incl. groups smaller than n_buckets
            size = rng.choice([1, 2, 3, 10, 60])
            for _ in range(size):
                rows.append((f"g{g}", did, rng.randint(0, 8)))  # many ties
                did += 1
        df = spark.createDataFrame(
            rows, "grp string, doc_id long, score long"
        )
        got = {
            r["doc_id"]: r["bucket"]
            for r in grouped_rank_buckets(
                df, "grp", "score", "doc_id", n_buckets
            ).collect()
        }
        want = {}
        bygrp = {}
        for g, d, s in rows:
            bygrp.setdefault(g, []).append((d, s))
        for g, items in bygrp.items():
            items.sort(key=lambda ds: (-ds[1], ds[0]))
            n = len(items)
            for rk, (d, _) in enumerate(items):
                want[d] = rk * n_buckets // n
        assert got == want, (trial, n_buckets, {
            d: (got[d], want[d]) for d in want if got[d] != want[d]
        })


def test_fuzz_dsir_weights_matches_python_model(spark):
    import random

    from real_estate_project1_etl_spark.operators.quality import (
        dsir_importance_weights,
    )

    rng = random.Random(1219)
    vocab = ["a", "bb", "ccc", "éé", "zz", "the", "of", ""]
    for trial, dim in enumerate([16, 256]):
        rows = []
        for i in range(30):
            nw = rng.randint(0, 15)
            rows.append(
                (i, " ".join(rng.choice(vocab) for _ in range(nw)))
            )
        tgt_ids = {i for i, _ in rows if rng.random() < 0.3}
        df = spark.createDataFrame(rows, "doc_id long, text string")
        tgt = df.filter(F.col("doc_id").isin(*tgt_ids) if tgt_ids
                        else F.lit(False))
        got = {
            r["doc_id"]: (r["n_grams"], r["dsir_weight_ppm"])
            for r in dsir_importance_weights(
                df, tgt, dim=dim, scale=1_000_000
            ).collect()
        }
        want = _dsir_python_model(rows, tgt_ids, dim, 1_000_000)
        assert got == want, (trial, dim, {
            d: (got[d], want[d]) for d in want if got.get(d) != want[d]
        })


def test_grouped_rank_buckets_reserved_names(spark):
    import pytest

    from real_estate_project1_etl_spark.operators.quality import (
        grouped_rank_buckets,
    )

    df = spark.createDataFrame(
        [("a", 1, 5, 0)], "g string, doc_id long, score long, _gid long"
    )
    with pytest.raises(ValueError, match="_gid"):
        grouped_rank_buckets(df, "g", "score", "doc_id", 2)
    df2 = spark.createDataFrame(
        [("a", 1, 5, 0)], "g string, doc_id long, score long, bucket long"
    )
    with pytest.raises(ValueError, match="bucket"):
        grouped_rank_buckets(df2, "g", "score", "doc_id", 2)


def _unimax_loop_model(sizes: dict, budget: int, cap: int) -> dict:
    """The paper's sequential allocation loop (Chung et al., ICLR 2023
    §3, Algorithm 1) run in EXACT rational arithmetic — the independent
    spec the closed-form engine implementation must reproduce (uniform
    shares floored to integers at the end, matching the operator's
    documented integerization)."""
    from fractions import Fraction

    items = sorted(sizes.items(), key=lambda kv: (kv[1], kv[0]))
    remaining = Fraction(budget)
    out = {}
    for j, (g, n) in enumerate(items):
        left = len(items) - j
        share = remaining / left
        if cap * n <= share:
            out[g] = cap * n
            remaining -= cap * n
        else:
            out[g] = int(share)  # Fraction.__int__ floors for >= 0
            remaining -= share
    return out


def test_unimax_budgets_hand_computed(spark):
    from real_estate_project1_etl_spark.operators.quality import (
        unimax_budgets,
    )

    # interior breakpoint: a+b epoch-capped (cap 4), c absorbs the rest
    df = spark.createDataFrame(
        [("a", 10), ("b", 10), ("c", 1000)], "lang string, n bigint"
    )
    got = {
        r["lang"]: (r["budget"], r["epochs_ppm"])
        for r in unimax_budgets(df, "lang", "n", 500, 4).collect()
    }
    assert got == {
        "a": (40, 4000000),
        "b": (40, 4000000),
        "c": (420, 420000),
    }
    # all capped: leftover budget stays unallocated (corpus too small)
    got2 = {
        r["lang"]: r["budget"]
        for r in unimax_budgets(df, "lang", "n", 10**9, 2).collect()
    }
    assert got2 == {"a": 20, "b": 20, "c": 2000}
    # empty group: zero budget, NULL epochs
    df3 = spark.createDataFrame(
        [("a", 0), ("b", 7)], "lang string, n bigint"
    )
    got3 = {
        r["lang"]: (r["budget"], r["epochs_ppm"])
        for r in unimax_budgets(df3, "lang", "n", 100, 3).collect()
    }
    assert got3 == {"a": (0, None), "b": (21, 3000000)}


def test_unimax_budgets_validates_params(spark):
    import pytest

    from real_estate_project1_etl_spark.operators.quality import (
        unimax_budgets,
    )

    df = spark.createDataFrame([("a", 1)], "lang string, n bigint")
    with pytest.raises(ValueError, match="max_epochs"):
        unimax_budgets(df, "lang", "n", 10, 0)
    with pytest.raises(ValueError, match="total_budget"):
        unimax_budgets(df, "lang", "n", -1, 1)
    bad = spark.createDataFrame([("a", 1, 0)], "lang string, n bigint, _i int")
    with pytest.raises(ValueError, match="_i"):
        unimax_budgets(bad, "lang", "n", 10, 1)


def test_fuzz_unimax_budgets_matches_loop_model(spark):
    import random

    from real_estate_project1_etl_spark.operators.quality import (
        unimax_budgets,
    )

    rng = random.Random(2026)
    for trial in range(6):
        k = rng.randint(1, 9)
        sizes = {f"g{j}": rng.randint(0, 2000) for j in range(k)}
        budget = rng.randint(0, 12000)
        cap = rng.randint(1, 5)
        df = spark.createDataFrame(
            list(sizes.items()), "lang string, n bigint"
        )
        got = {
            r["lang"]: r["budget"]
            for r in unimax_budgets(df, "lang", "n", budget, cap).collect()
        }
        want = _unimax_loop_model(sizes, budget, cap)
        assert got == want, (trial, sizes, budget, cap, got, want)


def test_grouped_quantile_ppm_hand_computed(spark):
    from real_estate_project1_etl_spark.operators.quality import (
        grouped_quantile_ppm,
    )

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("a", 3, 30), ("a", 4, 40), ("b", 5, 7)],
        "src string, doc_id long, score long",
    )
    got = {
        r["doc_id"]: r["quantile_ppm"]
        for r in grouped_quantile_ppm(df, "src", "score", "doc_id").collect()
    }
    # group a: midranks (2k+1)/8 -> 125000, 375000, 625000, 875000;
    # singleton group b -> 500000
    assert got == {1: 125000, 2: 375000, 3: 625000, 4: 875000, 5: 500000}
    desc = {
        r["doc_id"]: r["quantile_ppm"]
        for r in grouped_quantile_ppm(
            df, "src", "score", "doc_id", descending=True
        ).collect()
    }
    assert desc == {1: 875000, 2: 625000, 3: 375000, 4: 125000, 5: 500000}


def test_grouped_quantile_ppm_reserved_and_ties(spark):
    import pytest

    from real_estate_project1_etl_spark.operators.quality import (
        grouped_quantile_ppm,
    )

    bad = spark.createDataFrame(
        [("a", 1, 1, 0)], "src string, doc_id long, score long, _gid int"
    )
    with pytest.raises(ValueError, match="_gid"):
        grouped_quantile_ppm(bad, "src", "score", "doc_id")
    # ties break on id deterministically
    df = spark.createDataFrame(
        [("a", i, 5) for i in range(4)], "src string, doc_id long, score long"
    )
    got = {
        r["doc_id"]: r["quantile_ppm"]
        for r in grouped_quantile_ppm(df, "src", "score", "doc_id").collect()
    }
    assert got == {0: 125000, 1: 375000, 2: 625000, 3: 875000}


def test_dsir_fused_slice_path_equals_generic(spark):
    # round-14 optimization: when the target is a predicate-defined slice
    # of the raw corpus, dsir_importance_weights runs a FUSED single-
    # tokenize path (one checkpointed feature pass serves raw counts,
    # target counts and scoring). Must be value-identical to the generic
    # two-corpus path on the same slice — including NULL-text docs,
    # empty-slice and all-slice extremes.
    from real_estate_project1_etl_spark.operators.quality import (
        dsir_importance_weights,
    )

    rows = []
    for i in range(30):
        lang = "en" if i % 3 == 0 else ("de" if i % 3 == 1 else "fr")
        text = " ".join(f"w{(i * j) % 17}" for j in range(1 + i % 9))
        rows.append((i, lang, text))
    rows += [(100, "en", None), (101, "de", None), (102, None, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    for pred_lang in ("en", "de", "zz"):  # zz = empty target slice
        pred = F.col("lang") == pred_lang
        generic = {
            (r.doc_id): (r.n_grams, r.dsir_weight_ppm)
            for r in dsir_importance_weights(
                df, df.filter(pred), dim=64, scale=1000
            ).collect()
        }
        fused = {
            (r.doc_id): (r.n_grams, r.dsir_weight_ppm)
            for r in dsir_importance_weights(
                df, target_pred=pred, dim=64, scale=1000
            ).collect()
        }
        assert fused == generic, (pred_lang, fused, generic)

    # the fused path's internal target flag must not overwrite a caller's
    # column of the same name (here: the text column itself)
    named = df.withColumnRenamed("text", "_is_t")
    pred = F.col("lang") == "en"
    generic = dsir_importance_weights(
        named, named.filter(pred), dim=64, scale=1000, text_col="_is_t"
    )
    fused = dsir_importance_weights(
        named, target_pred=pred, dim=64, scale=1000, text_col="_is_t"
    )
    assert sorted(fused.collect()) == sorted(generic.collect())

    import pytest

    with pytest.raises(ValueError, match="exactly one"):
        dsir_importance_weights(df, df, target_pred=F.col("lang") == "en")
    with pytest.raises(ValueError, match="exactly one"):
        dsir_importance_weights(df)
