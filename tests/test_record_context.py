"""Characterization of the record-local migrators on hand-written records.

The synthetic corpus has no series members, outlines, unicodeText works
or cluster redirects, and the golden parity tests need the reference
checkout.  These cases need nothing outside the repo:

- a series-member work with and without `parent`, a unicodeText work, a
  clustered work with subjects and its canonical work;
- a pubinfo with `seriesName`, once released and once withdrawn;
- a 4-node outline whose node-1 abstract redirects (`clusters_manual`)
  to node 4's abstract, so node 1's topics move to node 4's work;
- a person with `foundsMonastery` events, an imagegroup with
  `isVolumeOf`, and a TEI etext through the golden no-pages call shape
  of `migrate_one_etext`.

Each record runs with the empty `Authority()` and with a hand-built one
(`AUTHS["built"]`), with `app_mode` off and on.  Each case pins a sha256
over the emitted graphs (sorted triples) plus the record's symmetric,
error, link and content rows and its status; the first 1,200 synthetic
rows of seeds 42 and 801 pin one sha256 each over their per-record
parse rows.
"""

from __future__ import annotations

import hashlib
import xml.etree.ElementTree as ET
from itertools import islice

import pytest

from xmltoldmigration_spark.functions.text import md5_hex
from xmltoldmigration_spark.kg.authority import Authority
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.migrators import etext, migrate_record
from xmltoldmigration_spark.kg.model import BDO, BDR
from xmltoldmigration_spark.kg.parse import _parse_record
from xmltoldmigration_spark.sources.corpus import synthetic_rows_partition

W = 'xmlns:w="http://www.tbrc.org/models/work#"'
LOG = ('<{p}:log><entry when="2012-03-04T10:00:00.000Z" who="Gene Smith">'
       'created record</entry></{p}:log>')


def _work(rid: str, info: str, extra: str = "") -> str:
    return (
        f'<w:work {W} RID="{rid}" status="released">{info}'
        '<w:title type="bibliographicalTitle" lang="tibetan" encoding="extendedWylie">'
        f"rgyal rabs gsal ba'i me long {rid}</w:title>"
        f'{extra}{LOG.format(p="w")}</w:work>'
    )


def _pubinfo(status: str) -> str:
    return (
        '<mw:pubinfo xmlns:mw="http://www.tbrc.org/models/pubinfo#" '
        f'RID="MW1SER5" status="{status}">'
        '<mw:isPubInfoFor work="W1SER5"/>'
        '<mw:publisherName>mi rigs dpe skrun khang</mw:publisherName>'
        '<mw:seriesName lang="tibetan" encoding="extendedWylie">bod kyi lo rgyus dpe tshogs</mw:seriesName>'
        '<mw:seriesNumber>7</mw:seriesNumber>'
        f'{LOG.format(p="mw")}</mw:pubinfo>'
    )


OUTLINE_WORK = "MW1OUT1"
NODE_TITLES = ["shes rab snying po'i mdo", "rdo rje gcod pa'i mdo",
               "'phags pa bzang po spyod pa'i smon lam", "byams pa'i smon lam gyi rgyal po"]


def _node(n: int) -> str:
    return (
        f'<o:node RID="O1OUT1_00{n}" type="text">'
        f'<o:title type="bibliographicalTitle" lang="tibetan" encoding="extendedWylie">{NODE_TITLES[n - 1]}</o:title>'
        f'<o:subject class="T30{n}" type="isAboutUncontrolled"/>'
        f'<o:location type="page" vol="1" page="{10 * n}"/>'
        f'<o:location type="page" vol="1" page="{10 * n + 9}"/>'
        "</o:node>"
    )


OUTLINE = (
    '<o:outline xmlns:o="http://www.tbrc.org/models/outline#" RID="O1OUT1" status="released">'
    '<o:isOutlineOf type="normal" work="W1OUT1"/>'
    + "".join(_node(n) for n in range(1, 5))
    + LOG.format(p="o") + "</o:outline>"
)

# outline node RIDs as OutlineMigration.getPartRID mints them
NODE_1 = OUTLINE_WORK + "_" + md5_hex("O1OUT1_001", 6)
NODE_4_ABSTRACT = "WA0XL" + md5_hex("O1OUT1_004", 12)

RECORDS = {
    "series_parent": ("work", _work("W1SER1", '<w:info number="3" parent="W1SERP"/>',
                                    '<w:subject class="T201" type="isAboutUncontrolled"/>')),
    "series_no_parent": ("work", _work("W1SER2", '<w:info number="4"/>')),
    "unicode_text": ("work", _work("W1UT1", '<w:info nodeType="unicodeText"/>')),
    "clustered": ("work", _work("W1CL1", "", '<w:subject class="T200" type="isAboutUncontrolled"/>'
                                             '<w:subject class="T201" type="isCommentaryOn"/>')),
    "canonical": ("work", _work("W1CL2", "", '<w:subject class="T202" type="isAboutUncontrolled"/>')),
    "pubinfo_series": ("pubinfo", _pubinfo("released")),
    "pubinfo_series_withdrawn": ("pubinfo", _pubinfo("withdrawn")),
    "outline": ("outline", OUTLINE),
    "person_founds": ("person", (
        '<p:person xmlns:p="http://www.tbrc.org/models/person#" RID="P1FM1" status="released">'
        '<p:name lang="tibetan" encoding="extendedWylie">tsong kha pa blo bzang grags pa</p:name>'
        '<p:event type="foundsMonastery" circa="1409"><p:place pid="G1FM1"/></p:event>'
        '<p:event type="foundsMonastery" circa="1415"><p:place pid="G1FM2"/>'
        '<p:office pid="R1FM1"/></p:event>'
        f'{LOG.format(p="p")}</p:person>'
    )),
    "imagegroup": ("imagegroup", (
        '<ig:imagegroup xmlns:ig="http://www.tbrc.org/models/imagegroup#" RID="I1IG1" status="released">'
        '<ig:description type="ondisk">I1IG10001.tif|I1IG10002.tif</ig:description>'
        '<ig:isVolumeOf num="2" work="W1OUT1"/>'
        '<ig:images total="2" tbrcintro="0"/>'
        f'{LOG.format(p="ig")}</ig:imagegroup>'
    )),
    "etext_nopages": ("etext", (
        '<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader><fileDesc>'
        "<titleStmt><title>shes rab snying po</title><title>[12]</title></titleStmt>"
        '<publicationStmt><idno type="TBRC_TEXT_RID">UT1UT1-001-0000</idno></publicationStmt>'
        '<sourceDesc><bibl><idno type="TBRC_RID">W1UT1</idno>'
        '<idno type="SRC_PATH">eKangyur/UT1UT1.xml</idno></bibl></sourceDesc>'
        "</fileDesc></teiHeader><text><body><div>"
        '<p n="1"><milestone unit="line" n="1"/>bcom ldan \'das ma<milestone unit="line" n="2"/>shes rab</p>'
        '<p n="2"><milestone unit="line" n="1"/>snying po</p>'
        "</div></body></text></TEI>"
    )),
}

AUTHS = {
    "empty": Authority(),
    "built": Authority(
        rid_replacements={"G1FM1": "G1FM9"},
        clusters={"WA1CL1": "WA1CL2", "WA1UT1": "WA1CL2"},
        clusters_manual={NODE_1: NODE_4_ABSTRACT},
        series_clusters={"W1SER2": "W1SER9", "W1SER5": "W1SER9"},
        genre_topics={"T200"},
        ric_with_outline={OUTLINE_WORK},
    ),
}

DIGESTS = {
    ('series_parent', 'empty', False):
        "b77308e5346bb8950001dbe6f492f59aad00d4f5f9daeadc121f7a2df40cd5fd",
    ('series_parent', 'empty', True):
        "b77308e5346bb8950001dbe6f492f59aad00d4f5f9daeadc121f7a2df40cd5fd",
    ('series_parent', 'built', False):
        "b77308e5346bb8950001dbe6f492f59aad00d4f5f9daeadc121f7a2df40cd5fd",
    ('series_parent', 'built', True):
        "b77308e5346bb8950001dbe6f492f59aad00d4f5f9daeadc121f7a2df40cd5fd",
    ('series_no_parent', 'empty', False):
        "be0083a35ba0c902ca20bcd29dae84e4aa6d35fe9b394e019f28981a74791b96",
    ('series_no_parent', 'empty', True):
        "be0083a35ba0c902ca20bcd29dae84e4aa6d35fe9b394e019f28981a74791b96",
    ('series_no_parent', 'built', False):
        "f9cc54533cc8a50a1397bac7690fcc77bcf81c60d805bbfe2f753dbfe122a5ea",
    ('series_no_parent', 'built', True):
        "f9cc54533cc8a50a1397bac7690fcc77bcf81c60d805bbfe2f753dbfe122a5ea",
    ('unicode_text', 'empty', False):
        "d7e0dc01c488c2e826c17289c448d83f540a41b4f65a6a20cdd3ed0ce1801add",
    ('unicode_text', 'empty', True):
        "d7e0dc01c488c2e826c17289c448d83f540a41b4f65a6a20cdd3ed0ce1801add",
    ('unicode_text', 'built', False):
        "15c145b86921c1e24e43c474197e3d548d852924cf91be4ba611010ec7185ab4",
    ('unicode_text', 'built', True):
        "15c145b86921c1e24e43c474197e3d548d852924cf91be4ba611010ec7185ab4",
    ('clustered', 'empty', False):
        "a9f1ee4ed2f6ddc509bb808f67607bc95b8b3852b40301aa49ad9ee9b66e1635",
    ('clustered', 'empty', True):
        "a9f1ee4ed2f6ddc509bb808f67607bc95b8b3852b40301aa49ad9ee9b66e1635",
    ('clustered', 'built', False):
        "a6a34a331bc2e7b51b8c5ac9b5139ed9061ba5df89931420500c5048f89d8b4c",
    ('clustered', 'built', True):
        "a6a34a331bc2e7b51b8c5ac9b5139ed9061ba5df89931420500c5048f89d8b4c",
    ('canonical', 'empty', False):
        "51d58f87f90058df80cf9d80d9e2faead3f1b4a7b88b36b6ba88134265e6eaa7",
    ('canonical', 'empty', True):
        "51d58f87f90058df80cf9d80d9e2faead3f1b4a7b88b36b6ba88134265e6eaa7",
    ('canonical', 'built', False):
        "51d58f87f90058df80cf9d80d9e2faead3f1b4a7b88b36b6ba88134265e6eaa7",
    ('canonical', 'built', True):
        "51d58f87f90058df80cf9d80d9e2faead3f1b4a7b88b36b6ba88134265e6eaa7",
    ('pubinfo_series', 'empty', False):
        "956b2ec76905904224126a757d5adb02a4aeea841a3ef89d0411f394ef20cc49",
    ('pubinfo_series', 'empty', True):
        "24140960f46f5e40e1cb102fb05b674ded9a3ea2db0c1dcb916fca65c3f26273",
    ('pubinfo_series', 'built', False):
        "2ddbee22d288cba7ea531362d31f53c292e0b1b41ce35d7df537b8e3f01dbd34",
    ('pubinfo_series', 'built', True):
        "7b40ba7487fbfc63fd5c0cf126684c82e5873d4657e148c16869dc608859e557",
    ('pubinfo_series_withdrawn', 'empty', False):
        "ff8c96c08b9b2aca4879a72648a50230703680cb00660d8b11dee305d2026290",
    ('pubinfo_series_withdrawn', 'empty', True):
        "84127688751becf4ac438507a8850c5068c82e222d4d1c131b4bf5315c2cc51f",
    ('pubinfo_series_withdrawn', 'built', False):
        "ff8c96c08b9b2aca4879a72648a50230703680cb00660d8b11dee305d2026290",
    ('pubinfo_series_withdrawn', 'built', True):
        "84127688751becf4ac438507a8850c5068c82e222d4d1c131b4bf5315c2cc51f",
    ('outline', 'empty', False):
        "701059afd52f95b10aed7fd67987a9cd1416e8a9d97809172bb4c78c49466f1e",
    ('outline', 'empty', True):
        "701059afd52f95b10aed7fd67987a9cd1416e8a9d97809172bb4c78c49466f1e",
    ('outline', 'built', False):
        "49a4eb371e488bb57c33d8f2742f8160acf79aeba7d33196dca3be77fec6edbc",
    ('outline', 'built', True):
        "49a4eb371e488bb57c33d8f2742f8160acf79aeba7d33196dca3be77fec6edbc",
    ('person_founds', 'empty', False):
        "e013e779e8cd2385a277584bdcac5f467570f9ce861946d6a8d602f28c7a16e1",
    ('person_founds', 'empty', True):
        "e013e779e8cd2385a277584bdcac5f467570f9ce861946d6a8d602f28c7a16e1",
    ('person_founds', 'built', False):
        "cb6ec2bf0aa546b88432671e124e7275acc56b87846897ca93206e52c51055c1",
    ('person_founds', 'built', True):
        "cb6ec2bf0aa546b88432671e124e7275acc56b87846897ca93206e52c51055c1",
    ('imagegroup', 'empty', False):
        "f5e5c04552c3266fe913650c9e8a88f171d8bbeb9fec599a178ae7b6bf8740a2",
    ('imagegroup', 'empty', True):
        "29548de1823961361531cf7b4475e9605b2412b5fabc323c309eca33d2522c9a",
    ('imagegroup', 'built', False):
        "f5e5c04552c3266fe913650c9e8a88f171d8bbeb9fec599a178ae7b6bf8740a2",
    ('imagegroup', 'built', True):
        "29548de1823961361531cf7b4475e9605b2412b5fabc323c309eca33d2522c9a",
    ('etext_nopages', 'empty', False):
        "d1b10cf8902e0c1f8d38397489796b7312087cf3c9edb95bfe5f4a4b579e376f",
    ('etext_nopages', 'empty', True):
        "d1b10cf8902e0c1f8d38397489796b7312087cf3c9edb95bfe5f4a4b579e376f",
    ('etext_nopages', 'built', False):
        "856365a6c2933d5fc6b9ec1d4b3fee301c24a1008ae1ae64d6a16fe48eb3c98d",
    ('etext_nopages', 'built', True):
        "856365a6c2933d5fc6b9ec1d4b3fee301c24a1008ae1ae64d6a16fe48eb3c98d",
}

SYNTHETIC_DIGESTS = {
    42: "b12a78202e7c3d448a02af6c9e400ef47f901379d9415b712caad156161d5570",
    801: "bbe2eb2f376ab3a93e310764a4a8dac1a4cce138c7f30cff739e2fe615b77c67",
}


def _digest(emitters, ctx: Ctx) -> str:
    r = ctx.result
    h = hashlib.sha256()
    for em in sorted(emitters, key=lambda e: e.graph):
        h.update(repr((em.graph, sorted(map(repr, em.triples)))).encode())
    for rows in (r.symmetric, r.errors, r.links, r.contents):
        h.update(repr(sorted(map(repr, rows))).encode())
    h.update(repr(r.status).encode())
    return h.hexdigest()


def _run(name: str, auth: str, app_mode: bool):
    rtype, xml = RECORDS[name]
    ctx = Ctx(auth=AUTHS[auth], app_mode=app_mode, src_path=f"tbrc-{rtype}s/{name}.xml")
    if name == "etext_nopages":
        # the golden no-pages call (MigrationTest.java:546-556)
        etext_em, item_em, _ = etext.migrate_one_etext(
            ET.fromstring(xml), ctx, is_paginated=False, needs_page_name_translation=False,
        )
        return [etext_em, item_em], ctx
    return migrate_record(rtype, xml, ctx), ctx


CASES = [(n, a, m) for n in RECORDS for a in AUTHS for m in (False, True)]


@pytest.mark.parametrize("name,auth,app_mode", CASES)
def test_record_output_is_pinned(name, auth, app_mode):
    emitters, ctx = _run(name, auth, app_mode)
    assert emitters and any(em.triples for em in emitters)
    assert _digest(emitters, ctx) == DIGESTS[(name, auth, app_mode)]


def test_outline_hands_topics_to_a_later_node():
    """Node 1's abstract redirects to node 4's, so node 1's subject
    (T301) lands on node 4's work inside the same record."""
    def topics(auth):
        emitters, _ = _run("outline", auth, True)
        return {k[3] for em in emitters for k in em.triples
                if k[0] == BDR + NODE_4_ABSTRACT and k[1] == BDO + "workIsAbout"}

    assert topics("empty") == {BDR + "T304"}
    assert topics("built") == {BDR + "T301", BDR + "T304"}
    assert DIGESTS[("outline", "empty", True)] != DIGESTS[("outline", "built", True)]


def _synthetic_digest(seed: int) -> str:
    h = hashlib.sha256()
    for _, path, _, _, content in islice(synthetic_rows_partition(0, 1200, seed), 1200):
        rows = sorted(map(repr, _parse_record(path, content, Authority())))
        h.update(hashlib.sha256(repr(rows).encode()).digest())
    return h.hexdigest()


@pytest.mark.parametrize("seed", [42, 801])
def test_synthetic_records_are_pinned(seed):
    assert _synthetic_digest(seed) == SYNTHETIC_DIGESTS[seed]
