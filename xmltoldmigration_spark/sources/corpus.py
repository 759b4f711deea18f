"""Builders for the `src` input table: (repo, path, commit, lang, content).

Two sources, both shaped per BASELINE.json input_hint:

* fixture_rows() — the reference golden corpus (read-only under
  /root/reference/src/test/xml), for parity checks.
* synthetic_rows(n) — a deterministic seeded XML corpus scaled to any
  size, for throughput/scaling benchmarks.  No wall clock, no RNG state
  leakage: record i is a pure function of (seed, i), so the corpus is
  identical across runs, partitions, and cluster sizes — the property
  that makes the N-vs-4N scaling comparison meaningful.

At 100 TB the same schema is an Iceberg table partitioned by record type
with content-hash bucketing; the generator mirrors the shape so plans
tested here transfer unchanged.
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import DataFrame, SparkSession

from xmltoldmigration_spark import REFERENCE_ROOT

SRC_SCHEMA = "repo string, path string, commit string, lang string, content string"

XML_DIR = REFERENCE_ROOT / "src/test/xml"

_TYPE_DIR = {
    "person": "tbrc-persons",
    "work": "tbrc-works",
    "outline": "tbrc-outlines",
    "place": "tbrc-places",
    "topic": "tbrc-topics",
    "office": "tbrc-offices",
    "corporation": "tbrc-corporations",
    "lineage": "tbrc-lineages",
    "product": "tbrc-products",
    "pubinfo": "tbrc-pubinfos",
    "imagegroup": "tbrc-imagegroups",
    "taxonomy": "tbrc-taxonomies",
    "scanrequest": "tbrc-scanrequests",
    "etext": "tbrc-etexts",
}

FIXTURE_TYPES = {
    "P1331": "person", "P1583": "person", "G488": "place", "G844": "place",
    "TopicTest": "topic", "OfficeTest": "office", "CorporationTest": "corporation",
    "L8LS14115": "lineage", "WorkTestFPL": "work", "PubinfoTest": "pubinfo",
    "ImagegroupTest": "imagegroup", "OutlineTest": "outline",
    "TaxonomyTest": "taxonomy", "PR99NCUL01": "product", "PR1CTC17": "product",
    "withdrawn-test": "office",
}


def rtype_from_path(path: str) -> str:
    """Record type from the src path (S1: per-type directories)."""
    d = path.split("/", 1)[0]
    for t, dirname in _TYPE_DIR.items():
        if d == dirname:
            return t
    raise ValueError(f"cannot derive record type from path {path!r}")


def fixture_rows() -> list[tuple]:
    rows = []
    if not XML_DIR.exists():
        return rows
    for name, rtype in sorted(FIXTURE_TYPES.items()):
        p = XML_DIR / f"{name}.xml"
        if p.exists():
            rows.append(
                ("tbrc", f"{_TYPE_DIR[rtype]}/{name}.xml", "v1", "xml",
                 p.read_text(encoding="utf-8"))
            )
    return rows


# ---------------------------------------------------------------- synthetic

_TIB_SYLL = (
    "bkra shis rnam rgyal blo gros dpal ldan bzang po rin chen grags pa "
    "kun dga' nyi ma don grub tshe ring chos kyi rgya mtsho thub bstan "
    "karma mkhas btsun dge legs byams mgon"
).split()

_EVENT_TYPES = ["birth", "death", "assumesOffice", "inResidence"]
_GENDERS = ["male", "female"]


def _name_for(rng: random.Random) -> str:
    return " ".join(rng.choice(_TIB_SYLL) for _ in range(rng.randint(2, 6)))


def synth_person_xml(i: int, seed: int = 42) -> str:
    """Deterministic synthetic person record exercising the full person
    surface: names (multi-lang), gender, events+dates, seat, relations,
    kinship, notes, externals, logs."""
    rng = random.Random((seed << 32) ^ i)
    rid = f"P9X{i}"
    year = 1000 + rng.randint(0, 950)
    teacher = f"P9X{rng.randrange(max(i, 1))}" if i > 0 and rng.random() < 0.7 else ""
    kin = f"P9X{rng.randrange(max(i, 1))}" if i > 0 and rng.random() < 0.3 else ""
    place = f"G9X{rng.randrange(1, 2000)}"
    parts = [
        f'<p:person xmlns:p="http://www.tbrc.org/models/person#" RID="{rid}" status="released">',
        f'    <p:name lang="tibetan" encoding="extendedWylie">{_name_for(rng)}</p:name>',
        f'    <p:name lang="tibetan" encoding="extendedWylie" type="primaryTitle">{_name_for(rng)}</p:name>',
        f'    <p:info gender="{rng.choice(_GENDERS)}"/>',
        f'    <p:event type="{rng.choice(_EVENT_TYPES)}" circa="{year}"/>',
        f'    <p:event type="death" circa="{year + rng.randint(20, 80)}"/>',
        f'    <p:seat><p:place pid="{place}">{_name_for(rng)}</p:place></p:seat>',
    ]
    if teacher:
        parts.append(f'    <p:teacherOf pid="{teacher}">{_name_for(rng)}</p:teacherOf>')
    if kin:
        parts.append(f'    <p:kinship relation="hasSon" person="{kin}"/>')
    parts.append(
        f'    <p:note work="W9X{rng.randrange(1, 5000)}" location="p. {rng.randint(1, 900)}">'
        "date of death from this source</p:note>"
    )
    parts.append("    <p:log>")
    parts.append(
        f'        <entry when="20{rng.randint(10, 19)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}'
        f'T10:0{rng.randint(0, 9)}:00.000Z" who="Gene Smith">created record</entry>'
    )
    parts.append("    </p:log>")
    parts.append("</p:person>")
    return "\n".join(parts)


def synth_work_xml(i: int, seed: int = 42) -> str:
    rng = random.Random((seed << 33) ^ i)
    rid = f"W9X{i}"
    creator = f"P9X{rng.randrange(1, 5000)}"
    parts = [
        f'<w:work xmlns:w="http://www.tbrc.org/models/work#" RID="{rid}" status="released">',
        f'    <w:title type="bibliographicalTitle">{_name_for(rng)}</w:title>',
        f'    <w:title type="titlePageTitle" lang="tibetan" encoding="extendedWylie">{_name_for(rng)}</w:title>',
        f'    <w:archiveInfo license="ccby" access="{"restrictedSealed" if i % 20 == 5 else "openAccess"}" vols="{rng.randint(1, 12)}"/>',
        f'    <w:creator person="{creator}" type="hasMainAuthor">{_name_for(rng)}</w:creator>',
        f'    <w:subject class="T9X{rng.randrange(1, 300)}" type="isAboutUncontrolled">{_name_for(rng)}</w:subject>',
        f'    <w:catalogInfo>synthetic catalog info {i}</w:catalogInfo>',
        f'    <w:scanInfo>synthetic scan info {i}</w:scanInfo>',
    ]
    for v in range(1, rng.randint(2, 4)):
        parts.append(f'    <w:volume num="{v}" imagegroup="I9X{i}V{v}"/>')
    parts.append("</w:work>")
    return "\n".join(parts)


def synth_place_xml(i: int, seed: int = 42) -> str:
    rng = random.Random((seed << 34) ^ i)
    rid = f"G9X{i}"
    parent = f"G9X{rng.randrange(max(i, 1))}" if i > 0 else ""
    parts = [
        f'<g:place xmlns:g="http://www.tbrc.org/models/place#" RID="{rid}" status="released">',
        f'    <g:name lang="tibetan" encoding="extendedWylie">{_name_for(rng)}</g:name>',
        f'    <g:info type="placeTypes:dgonPa"/>',
        f'    <g:gis><g:coords lat="{28 + rng.random() * 10:.4f}" long="{85 + rng.random() * 15:.4f}"/></g:gis>',
    ]
    if parent:
        parts.append(f'    <g:isLocatedIn place="{parent}"/>')
    parts.append("</g:place>")
    return "\n".join(parts)


def synth_pubinfo_xml(i: int, seed: int = 42) -> str:
    rng = random.Random((seed << 35) ^ i)
    work = f"W9X{(i // 10) * 10 + 5}"  # enriches a work record of the corpus
    return "\n".join([
        f'<mw:pubinfo xmlns:mw="http://www.tbrc.org/models/pubinfo#" RID="MW9X{i}" status="released">',
        f'    <mw:isPubInfoFor work="{work}"/>',
        f'    <mw:publisherName>{_name_for(rng)} press</mw:publisherName>',
        f'    <mw:publisherLocation>lha sa</mw:publisherLocation>',
        f'    <mw:publisherDate>{1900 + rng.randint(0, 99)}</mw:publisherDate>',
        f'    <mw:printType type="blockprint"/>',
        f'    <mw:encoding>In Tibetan</mw:encoding>',
        f'    <mw:extent>{rng.randint(10, 900)} ff.</mw:extent>',
        "</mw:pubinfo>",
    ])


def synth_etext_xml(i: int, seed: int = 42) -> str:
    rng = random.Random((seed << 36) ^ i)
    work = f"W9X{i - 4}"  # references the kind-5 work record of its decade
    pages = []
    for p in range(1, rng.randint(2, 4)):
        lines = "".join(
            f'<milestone unit="line" n="{ln}"/>{_name_for(rng)}་'
            for ln in range(1, rng.randint(2, 5))
        )
        pages.append(f'<p n="{p}">{lines}</p>')
    return (
        '<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader><fileDesc>'
        f"<titleStmt><title>{_name_for(rng)}</title></titleStmt>"
        f'<publicationStmt><idno type="TBRC_TEXT_RID">UT9X{i}-001-0000</idno></publicationStmt>'
        f'<sourceDesc><bibl><idno type="TBRC_RID">{work}</idno>'
        f'<idno type="SRC_PATH">eKangyur/UT9X{i}.xml</idno></bibl></sourceDesc>'
        "</fileDesc></teiHeader><text><body><div>"
        + "".join(pages)
        + "</div></body></text></TEI>"
    )


def synth_ucb_etext_xml(i: int, seed: int = 42) -> str:
    """UCB-OCR distributor etext: page `n` attributes are image FILE
    NAMES (EtextBodyMigration needsPageNameTranslation path)."""
    rng = random.Random((seed << 37) ^ i)
    work = f"W9X{i - 4}"
    pages = []
    for p in range(1, rng.randint(3, 5)):
        lines = "".join(
            f'<milestone unit="line" n="{ln}"/>{_name_for(rng)}་'
            for ln in range(1, rng.randint(2, 4))
        )
        pages.append(f'<p n="IMG{i}-{p:04d}.tif">{lines}</p>')
    # one page references an image absent from the ondisk list -> the
    # pipeline must degrade it to an ET_GEN error row
    pages.append(f'<p n="IMG{i}-9999.tif">{_name_for(rng)}་</p>')
    return (
        '<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader><fileDesc>'
        f"<titleStmt><title>{_name_for(rng)}</title></titleStmt>"
        f'<publicationStmt><idno type="TBRC_TEXT_RID">UT9XU{i}-I9XE{i}-0001</idno></publicationStmt>'
        f'<sourceDesc><bibl><idno type="TBRC_RID">{work}</idno>'
        f'<idno type="SRC_PATH">UCB-OCR/UT9XU{i}.xml</idno></bibl></sourceDesc>'
        "</fileDesc></teiHeader><text><body><div>"
        + "".join(pages)
        + "</div></body></text></TEI>"
    )


def synth_imagegroup_xml(i: int, seed: int = 42) -> str:
    """Imagegroup for the UCB-OCR etext of the same i: ondisk list with a
    leading cover image (so translated seqNum = page index + 1) and a
    no-extension entry that must not consume a sequence number."""
    imgs = "|".join([f"COVER{i}.tif", "garbage"]
                    + [f"IMG{i}-{p:04d}.tif" for p in range(1, 5)])
    return "\n".join([
        f'<ig:imagegroup xmlns:ig="http://www.tbrc.org/models/imagegroup#" RID="I9XE{i}" status="released">',
        f'    <ig:description type="ondisk">{imgs}</ig:description>',
        f'    <ig:isVolumeOf num="1" work="W9X{i - 4}"/>',
        f'    <ig:images total="6"/>',
        "</ig:imagegroup>",
    ])


def synthetic_rows_partition(start: int, end: int, seed: int = 42):
    """Rows [start, end) of the synthetic corpus — callable per partition.

    Mix: 50% person, 20% work, 10% pubinfo (enriching those works via the
    J7 set-union merge), 10% place, 10% TEI etext.  Every third etext is
    a UCB-OCR one (image-name pagination) and brings its imagegroup
    record along, so the page-name translation join is exercised."""
    for i in range(start, end):
        kind = i % 10
        if kind < 5:
            rtype, xml = "person", synth_person_xml(i, seed)
            name = f"P9X{i}"
        elif kind < 7:
            rtype, xml = "work", synth_work_xml(i, seed)
            name = f"W9X{i}"
        elif kind == 7:
            rtype, xml = "pubinfo", synth_pubinfo_xml(i, seed)
            name = f"MW9X{i}"
        elif kind == 8:
            rtype, xml = "place", synth_place_xml(i, seed)
            name = f"G9X{i}"
        elif i % 30 == 29:
            yield ("tbrc", f"tbrc-etexts/UCB-OCR/UT9XU{i}.xml", "v1", "xml",
                   synth_ucb_etext_xml(i, seed))
            yield ("tbrc", f"tbrc-imagegroups/I9XE{i}.xml", "v1", "xml",
                   synth_imagegroup_xml(i, seed))
            continue
        else:
            rtype, xml = "etext", synth_etext_xml(i, seed)
            name = f"UT9X{i}"
        yield ("tbrc", f"{_TYPE_DIR[rtype]}/{name}.xml", "v1", "xml", xml)


def load_fixture_src(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(fixture_rows(), schema=SRC_SCHEMA)


def load_synthetic_src(spark: SparkSession, n: int, seed: int = 42,
                       num_partitions: int | None = None) -> DataFrame:
    """Distributed generation: the driver ships only (start, end) ranges;
    content is generated executor-side, so corpus size is unbounded by
    driver memory (the 100 TB story: replace with the Iceberg scan)."""
    sc = spark.sparkContext
    num_partitions = num_partitions or max(sc.defaultParallelism, 8)
    step = (n + num_partitions - 1) // num_partitions
    ranges = [(i, min(i + step, n)) for i in range(0, n, step)]
    rdd = sc.parallelize(ranges, len(ranges)).flatMap(
        lambda r: synthetic_rows_partition(r[0], r[1], seed)
    )
    return spark.createDataFrame(rdd, schema=SRC_SCHEMA)
