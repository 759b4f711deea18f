"""Unit tests for SURVEY.md §2.3 scalar functions, pinned to the
reference's MigrationTest scalar assertions (MigrationTest.java:123-209,
496-609)."""

from xmltoldmigration_spark.functions.lang import add_ewts_shad, get_bcp47
from xmltoldmigration_spark.functions.text import (
    is_empty_pub_value,
    normalize_string,
    pad_edtf_zeros,
    parse_dates,
    rid_from_tbrc_url,
)


def test_normalize_string():
    # MigrationTest.testNormalize:204-209
    ws = [
        "	", "\n", "", "\r", " ", "", " ",
        " ", "᠎", " ", " ", " ", " ",
        " ", " ", " ", " ", " ", " ",
        " ", " ", " ", " ", " ", "　", "\0",
    ]
    allws = " 1 " + " ".join(f"{w} {i + 2}" for i, w in enumerate(ws)) + " "
    assert normalize_string(allws) == " ".join(str(i) for i in range(1, 28))
    assert normalize_string("") == ""


def test_url_normalization():
    # MigrationTest.testUrlNormalization:192-201
    assert rid_from_tbrc_url("http://tbrc.org/#library_work_Object-W00EGS1016761") == "W00EGS1016761"
    assert (
        rid_from_tbrc_url("http://tbrc.org/link?RID=O2DB102429|O2DB1024292DB102470$W21634")
        == "O2DB1024292DB102470"
    )
    assert (
        rid_from_tbrc_url(
            "http://www.tbrc.org/link/?RID=O1KG4084|O1KG40841KG4095$W1KG3381"
            "#library_work_Object-O1KG4084|O1KG40841KG4095$W1KG3381"
        )
        == "O1KG40841KG4095"
    )
    assert (
        rid_from_tbrc_url("http://mercury.tbrc.org/link?RID=O3LS12537|O3LS125373LS13489$W8039")
        == "O3LS125373LS13489"
    )
    assert rid_from_tbrc_url("http://tbrc.org/?locale=bo#library_work_Object-W1PD107999") == "W1PD107999"
    assert rid_from_tbrc_url("http://tbrc.org/link/?RID=T1CZ28#library_topic_Object-T1CZ28") == "T1CZ28"


def test_ewts_shad():
    # CommonMigration.addEwtsShad:2043-2065 behavior on golden strings
    assert add_ewts_shad("blo gros rnam dag") == "blo gros rnam dag"
    assert add_ewts_shad("don grub dpal ba") == "don grub dpal ba/"
    assert add_ewts_shad("gzhung lang ") == "gzhung lang /"
    assert add_ewts_shad("x") == "x"


def test_empty_pub_value():
    # MigrationTest.java:595-603
    assert is_empty_pub_value("[s.n.]")
    assert is_empty_pub_value("[s.l.]")
    assert is_empty_pub_value("[n.d.]")
    assert is_empty_pub_value("s.n.")
    assert not is_empty_pub_value("lha sa")


def test_edtf_padding():
    # MigrationTest.java:605-609
    assert pad_edtf_zeros("X85") == "0X85"
    assert pad_edtf_zeros("985") == "0985"
    assert pad_edtf_zeros("1985") == "1985"


def test_parse_dates():
    # CommonMigration.addDates:306-396
    assert parse_dates("1322") == [("onYear", "1322", "http://www.w3.org/2001/XMLSchema#gYear")]
    assert parse_dates("") == []
    got = dict((p, v) for p, v, _ in parse_dates("1322/1330"))
    assert got == {"notBefore": "1322", "notAfter": "1330"}
    got = parse_dates("132X")
    assert ("notBefore", "1320", "http://www.w3.org/2001/XMLSchema#gYear") in got
    assert ("notAfter", "1329", "http://www.w3.org/2001/XMLSchema#gYear") in got
    got = parse_dates("c. 1322")
    assert ("onYear", "1322", "http://www.w3.org/2001/XMLSchema#gYear") in got
    assert ("eventWhen", "1322~", "http://id.loc.gov/datatypes/edtf") in got


def test_bcp47():
    # MigrationTest.testGetLiteral:139-159 + golden-corpus pairs
    assert get_bcp47("tibetan", "extendedWylie") == "bo-x-ewts"
    assert get_bcp47("tibetan", "native") == "bo"
    assert get_bcp47("pāli", "kmfemc") == "pi-x-kmfemc"
    assert get_bcp47("english", "") == "en"
    assert get_bcp47("", "", "en") == "en"


def test_plan_audit_parser():
    """tools/plan_audit.py fact extraction over both plan text shapes
    (explain('formatted') blocks and executedPlan().toString() one-line
    FileScan entries)."""
    from tools.plan_audit import audit_plan

    plan = (
        "AdaptiveSparkPlan\n"
        "+- Exchange hashpartitioning(src#1L, 256), ENSURE_REQUIREMENTS\n"
        "   +- BroadcastNestedLoopJoin Inner BuildRight\n"
        "      +- BroadcastExchange IdentityBroadcastMode\n"
        "      +- FileScan parquet [a#0L,b#1L] Batched: true, "
        "Location: InMemoryFileIndex(1 paths)[file:/data/lineitem.parquet], "
        "PartitionFilters: [], PushedFilters: [IsNotNull(a)], "
        "ReadSchema: struct<a:bigint,b:bigint>\n"
    )
    facts = audit_plan(plan)
    assert facts["shuffle_exchanges"] == 1
    assert facts["broadcast_exchanges"] == 1
    assert facts["bnlj"] == 1
    assert facts["cartesian"] == 0
    assert facts["pushed_filters"] == 1
    assert facts["scans"] == [{"file": "lineitem.parquet", "read_cols": 2}]

    # single-partition and round-robin exchanges are shuffles too; a
    # truncated ReadSchema ('... N more fields') still counts every column
    plan = (
        "AdaptiveSparkPlan\n"
        "+- HashAggregate(keys=[], functions=[count(1)])\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]\n"
        "      +- Exchange RoundRobinPartitioning(8), REPARTITION_BY_NUM, [plan_id=6]\n"
        "         +- FileScan parquet [a#0L,b#1L,... 3 more fields] Batched: true, "
        "Location: InMemoryFileIndex(1 paths)[file:/data/orders.parquet], "
        "PartitionFilters: [], PushedFilters: [], "
        "ReadSchema: struct<a:bigint,b:bigint,... 3 more fields>\n"
    )
    facts = audit_plan(plan)
    assert facts["shuffle_exchanges"] == 2
    assert facts["broadcast_exchanges"] == 0
    assert facts["scans"] == [{"file": "orders.parquet", "read_cols": 5}]
