"""Golden pipeline test (SURVEY.md §5.2): a handcrafted bronze fixture with
every quirk the reference transform handles — duplicate links, EUR rows,
NBSP, Kc/m² suffixes, kraj addresses, junk/zero sizes, outlier prices —
must produce exactly the expected silver rows.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from real_estate_project1_etl_spark.functions.text import (
    digits_only,
    last_two_words,
    strip_diacritics,
)
from real_estate_project1_etl_spark.operators.cleaning import (
    clean_properties,
    scraped_rows_to_bronze,
)
from real_estate_project1_etl_spark.schemas import PROPERTIES_RAW

RAW_ROWS = [
    # kept: Praha default region, ceil division
    ("Prodej bytu 2+kk", "Sokolovská, Praha 8", "43 m²", "2+kk", "5 500 000 Kč", "/n/1"),
    # exact duplicate link of the row above -> deduped (D1)
    ("Prodej bytu 2+kk", "Sokolovská, Praha 8", "43 m²", "2+kk", "5 500 000 Kč", "/n/1"),
    # kept: kraj address stripped, NBSP thousands (C2 via C1 map)
    ("Prodej domu", "Brno, Jihomoravský kraj", "120 m2", "4+1", "9 000 000 Kc", "/n/2"),
    # dropped: EUR listing (F1)
    ("Prodej bytu 1+kk", "Bratislava", "30 m2", "1+kk", "450 EUR", "/n/3"),
    # dropped: price < 500 (F2)
    ("Prodej bytu 3+1", "Olomouc, Olomoucký kraj", "80 m2", "3+1", "300 Kč", "/n/4"),
    # dropped: rent keyword and price <= 1000 (F3)
    ("Pronájem kanceláře", "Praha 1", "25 m2", "", "900 Kc", "/n/5"),
    # dropped: sale keyword and price <= 20000 (F4)
    ("Prodej garáže", "Plzeň, Plzeňský kraj", "18 m2", "", "15 000 Kc", "/n/6"),
    # dropped: non-whitelist region (F5)
    ("Prodej domu", "Kdesi, Dolný kraj", "90 m2", "5+1", "4 000 000 Kc", "/n/7"),
    # kept: junk size -> 0 -> price_per_m2 NULL (C5/C6/C7/C9)
    ("Prodej domu", "Ostrava, Moravskoslezský kraj", "xx", "3+1", "2 500 000 Kc", "/n/8"),
    # dropped: pozemek with price_per_m2 > 80000 (F6)
    ("Prodej pozemku", "Liberec, Liberecký kraj", "10 m2", "", "5 000 000 Kc", "/n/9"),
    # kept: pozemek under the outlier bound
    ("Prodej pozemku", "Zlín, Zlínský kraj", "1000 m2", "", "3 000 000 Kc", "/n/10"),
]

EXPECTED = {
    # link -> (purpose, address, region, size, price, ppm2)
    "/n/1": ("Prodej bytu 2+kk", "Sokolovska, Praha 8", "Praha", 43, 5500000, 127907),
    "/n/2": ("Prodej domu", "Brno", "Jihomoravsky kraj", 120, 9000000, 75000),
    "/n/8": ("Prodej domu", "Ostrava", "Moravskoslezsky kraj", 0, 2500000, None),
    "/n/10": ("Prodej pozemku", "Zlin", "Zlinsky kraj", 1000, 3000000, 3000),
}


def test_golden_pipeline(spark):
    bronze = scraped_rows_to_bronze(
        spark.createDataFrame(RAW_ROWS, PROPERTIES_RAW)
    )
    silver = clean_properties(
        bronze,
        dedup_order=["purpose"],
        file_name_col=F.lit("raw_properties_x.csv"),
        dump_ts=F.to_timestamp(F.lit("2026-01-01 00:00:00")),
    )
    rows = {r["link"]: r for r in silver.collect()}
    assert set(rows) == set(EXPECTED), f"kept links: {sorted(rows)}"
    for link, (purpose, address, region, size, price, ppm2) in EXPECTED.items():
        r = rows[link]
        assert (
            r["purpose"], r["address"], r["region"], r["size_m2"],
            r["price_czk"], r["price_per_m2"],
        ) == (purpose, address, region, size, price, ppm2), r
        assert r["file_name"] == "raw_properties_x.csv"
    # silver column order is the reference's exact projection (transform.py:115-116)
    assert silver.columns == [
        "purpose", "address", "region", "size_m2", "design", "price_czk",
        "price_per_m2", "link", "dump_date", "file_name",
    ]


NB = "\u00a0"

#: raw day-file rows (purpose, address, size_m2, design, price_czk, link)
#: that fire every rule of the chain; None is an empty TSV field (NULL)
EDGE_ROWS = [
    # kept: Praha default, NBSP thousands in the price, ceil division
    ("Prodej bytu 2+kk", "Sokolovska, Praha 8", "43 m2", "2+kk", f"5{NB}500{NB}000 Kc", "/e/01"),
    ("Prodej bytu 1+kk", "Praha 2", "30 m2", "1+kk", "450 EUR", "/e/02"),  # F1
    ("Prodej bytu 3+1", "Praha 3", "80 m2", "3+1", "499 Kc", "/e/03"),  # F2
    ("Prodej bytu 3+1", "Praha 3", "80 m2", "3+1", "Cena na vyzadani", "/e/04"),  # F2: no digits
    ("Pronajem kancelare", "Praha 1", "25 m2", None, "1 000 Kc", "/e/05"),  # F3 at the bound
    ("Pronajem kancelare", "Praha 1", "25 m2", None, "1 001 Kc", "/e/06"),  # kept
    ("Prodej garaze", "Praha 5", "18 m2", None, "20 000 Kc", "/e/07"),  # F4 at the bound
    ("Prodej garaze", "Praha 5", "18 m2", None, "20 001 Kc", "/e/08"),  # kept
    ("Prodej domu", "Kdesi, Dolny kraj", "90 m2", "5+1", "4 000 000 Kc", "/e/09"),  # F5
    ("Prodej domu", "kraj", "90 m2", "5+1", "4 000 000 Kc", "/e/10"),  # F5: 1-word kraj -> ''
    # 2-word kraj address: all region, no address left
    ("Prodej domu", "Jihomoravsky kraj", "100 m2", "4+1", "3 000 000 Kc", "/e/11"),
    # 3+ words, trailing commas on both halves
    ("Prodej domu", "Olomouc,,, Olomoucky kraj,,", "100 m2", "4+1", "3 000 000 Kc", "/e/12"),
    ("Prodej pozemku", "Liberec, Liberecky kraj", "10 m2", None, "800 010 Kc", "/e/13"),  # F6
    ("Prodej pozemku", "Liberec, Liberecky kraj", "10 m2", None, "800 000 Kc", "/e/14"),  # F6 bound
    ("Prodej pozemku", "Zlin, Zlinsky kraj", "0 m2", None, "9 000 000 Kc", "/e/15"),  # size 0
    # raw Kč and m² (not transliterated here): the price parses, the size does not
    ("Prodej bytu 1+1", "Praha 4", "43 m²", "1+1", "1 200 000 Kč", "/e/16"),
    ("Prodej bytu 2+1", "Praha 6", "50 m2", f"2+{NB}1", "2 000 000 Kc", f"/e/{NB}17"),  # NBSP
    (None, "Praha 7", "50 m2", "2+1", "3 000 000 Kc", "/e/18"),  # NULL purpose, kept
    (None, "Praha 7", "50 m2", "2+1", "600 Kc", "/e/19"),  # NULL purpose: F3 is NULL -> dropped
    ("Prodej domu", None, "50 m2", "2+1", "3 000 000 Kc", "/e/20"),
    ("Prodej domu", "Praha 8", None, "2+1", "3 000 000 Kc", "/e/21"),
    ("Prodej domu", "Praha 8", "50 m2", None, "3 000 000 Kc", "/e/22"),
    ("Prodej domu", "Praha 8", "50 m2", "2+1", None, "/e/23"),  # NULL price: F2
    ("Prodej domu", "Praha 8", "50 m2", "2+1", "3 000 000 Kc", None),
    # within-file duplicate whose later copy changed its price
    ("Prodej domu", "Brno, Jihomoravsky kraj", "100 m2", "4+1", "3 000 000 Kc", "/e/24"),
    ("Prodej domu", "Brno, Jihomoravsky kraj", "100 m2", "4+1", "3 500 000 Kc", "/e/24"),
]

#: the silver rows, worked out by hand from the reference's rules:
#: (purpose, address, region, size_m2, design, price_czk, price_per_m2, link)
EDGE_EXPECTED = {
    ("Prodej bytu 2+kk", "Sokolovska, Praha 8", "Praha", 43, "2+kk", 5500000, 127907, "/e/01"),
    ("Pronajem kancelare", "Praha 1", "Praha", 25, None, 1001, 41, "/e/06"),
    ("Prodej garaze", "Praha 5", "Praha", 18, None, 20001, 1112, "/e/08"),
    ("Prodej domu", "", "Jihomoravsky kraj", 100, "4+1", 3000000, 30000, "/e/11"),
    ("Prodej domu", "Olomouc", "Olomoucky kraj", 100, "4+1", 3000000, 30000, "/e/12"),
    ("Prodej pozemku", "Liberec", "Liberecky kraj", 10, None, 800000, 80000, "/e/14"),
    ("Prodej pozemku", "Zlin", "Zlinsky kraj", 0, None, 9000000, None, "/e/15"),
    ("Prodej bytu 1+1", "Praha 4", "Praha", 0, "1+1", 1200000, None, "/e/16"),
    ("Prodej bytu 2+1", "Praha 6", "Praha", 50, "2+ 1", 2000000, 40000, "/e/ 17"),
    (None, "Praha 7", "Praha", 50, "2+1", 3000000, 60000, "/e/18"),
    ("Prodej domu", None, "Praha", 50, "2+1", 3000000, 60000, "/e/20"),
    ("Prodej domu", "Praha 8", "Praha", 0, "2+1", 3000000, None, "/e/21"),
    ("Prodej domu", "Praha 8", "Praha", 50, None, 3000000, 60000, "/e/22"),
    ("Prodej domu", "Praha 8", "Praha", 50, "2+1", 3000000, 60000, None),
    ("Prodej domu", "Brno", "Jihomoravsky kraj", 100, "4+1", 3000000, 30000, "/e/24"),
}


@pytest.fixture(scope="module")
def edge_runs(spark, tmp_path_factory):
    """The edge battery through the batch chain and through
    ``start_foreach_batch_load``, read from one TSV day-file:
    ``{form: (silver rows, executed plan text)}``.  One AvailableNow pass
    serves the stream form; its sink collects the batch it receives."""
    from real_estate_project1_etl_spark.streaming.file_pipeline import (
        start_foreach_batch_load,
    )

    root = tmp_path_factory.mktemp("edge")
    inbox = root / "inbox"
    inbox.mkdir()
    with open(inbox / "edge.tsv", "w", encoding="utf-8") as fh:
        fh.write("\t".join(PROPERTIES_RAW.fieldNames()) + "\n")
        for r in EDGE_ROWS:
            fh.write("\t".join("" if v is None else v for v in r) + "\n")

    batch = clean_properties(
        spark.read.schema(PROPERTIES_RAW).option("sep", "\t").option("header", True)
        .csv(str(inbox)),
        dedup_order=["price_czk"], dump_ts=F.to_timestamp(F.lit("2026-01-01 00:00:00")),
    )

    def plan_of(df):
        # the plan text before the run: once AQE has finished, it holds
        # both its initial and its final plan
        return df._jdf.queryExecution().executedPlan().toString()

    plan = plan_of(batch)
    runs = {"batch": (batch.collect(), plan)}

    def sink(df, batch_id):
        plan = plan_of(df)
        runs["stream"] = (df.collect(), plan)

    q = start_foreach_batch_load(spark, str(inbox), str(root / "ckpt"), sink)
    assert q.awaitTermination(120), "edge-battery stream did not finish"
    assert q.exception() is None, q.exception()
    return runs


@pytest.mark.parametrize("form", ["batch", "stream"])
def test_edge_battery(edge_runs, form):
    rows, _ = edge_runs[form]
    got = {tuple(r)[:8] for r in rows}
    assert len(rows) == len(got)
    assert {r["file_name"] for r in rows} == {"edge.tsv"}
    if form == "batch":
        assert {r["dump_date"] for r in rows} == {datetime.datetime(2026, 1, 1)}
    else:
        # the stream stamps each batch with its own time: one per batch
        assert len({r["dump_date"] for r in rows}) == 1
    # both forms keep the first copy of /e/24 in file order
    assert got == EDGE_EXPECTED, (sorted(got - EDGE_EXPECTED, key=str),
                                  sorted(EDGE_EXPECTED - got, key=str))


@pytest.mark.parametrize("form", ["batch", "stream"])
def test_plan_evaluates_each_value_once(edge_runs, form):
    # Catalyst pushes a Filter down through the projections and inlines
    # the expressions it reads: six chained filters once made this plan
    # hold 42 regexp_replace and 7 address splits
    _, plan = edge_runs[form]
    assert plan.count("regexp_replace(") <= 6, plan
    assert plan.count("split(trim(") == 1, plan


def test_scalar_edges(spark):
    df = spark.createDataFrame(
        [("abc", "one", "Pět set 5 0 0"), ("", "two words", "9x9")],
        "a string, b string, c string",
    )
    out = df.select(
        digits_only("a").alias("no_digits"),
        last_two_words("b").alias("l2w"),
        digits_only("c").alias("digits"),
        strip_diacritics(F.lit("Příliš žluťoučký kůň ²")).alias("uni"),
    ).collect()
    assert out[0]["no_digits"] is None  # documented divergence: NULL, not throw
    assert out[0]["l2w"] == ""  # fewer than two words
    assert out[0]["digits"] == 500
    assert out[0]["uni"] == "Prilis zlutoucky kun 2"
    assert out[1]["l2w"] == "two words"
    assert out[1]["digits"] == 99


def test_unigram_logprob_matches_numpy_model(spark):
    import math

    from real_estate_project1_etl_spark.operators.textstats import (
        unigram_logprob_scores,
    )

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat"),
        (2, "zyx qwv"),  # rare tokens -> lowest score
        (3, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_logprob"])
        for r in unigram_logprob_scores(df).collect()
    }

    # reference model in plain python
    toks = {i: [w for w in t.split() if w] for i, t in docs}
    from collections import Counter

    vocab = Counter(w for ws in toks.values() for w in ws)
    total, v = sum(vocab.values()), len(vocab)
    for i, ws in toks.items():
        if not ws:
            assert i not in got  # empty docs yield no row
            continue
        expect = sum(math.log((vocab[w] + 1) / (total + v)) for w in ws) / len(ws)
        n, lp = got[i]
        assert n == len(ws)
        assert abs(lp - expect) < 1e-9, (i, lp, expect)
    # the gibberish doc scores strictly lowest
    assert got[2][1] == min(lp for _, lp in got.values())


def test_split_sentences_udtf_edges(spark):
    # UDTF surface: null in -> no rows; whitespace-only text -> no rows;
    # empties dropped with indices renumbered; trailing text without
    # punctuation kept as a final sentence
    from real_estate_project1_etl_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    df = spark.createDataFrame(
        [
            (1, "One. Two!   Three? tail no punct"),
            (2, None),
            (3, "   "),
            (4, "!  !  x."),
        ],
        "id long, text string",
    )
    df.createOrReplaceTempView("_udtf_edge")
    got = {
        (r.id, r.idx): r.sentence
        for r in spark.sql(
            "SELECT d.id, t.idx, t.sentence FROM _udtf_edge d, "
            "LATERAL split_sentences(d.text) t"
        ).collect()
    }
    assert got == {
        (1, 0): "One.",
        (1, 1): "Two!",
        (1, 2): "Three?",
        (1, 3): "tail no punct",
        (4, 0): "!",
        (4, 1): "!",
        (4, 2): "x.",
    }
