"""Etext migrator — reference: xml2files/EtextMigration.java:428-590 and
EtextBodyMigration.java:29-183 (TEI parse, K3 content sink).

Record-local: one TEI file -> (etext graph, etext-instance item graph,
plain-text body).  The reference's read-modify-write back-links
(addInstanceToWork / addReproToInstance, S6) become forward triples
emitted here and joined in the pipeline.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import (
    ADM,
    BDA,
    BDO,
    BDR,
    RDF_TYPE,
    SKOS,
    Emitter,
    boolean,
    integer,
    iri,
    lit,
)

TEI = "http://www.tei-c.org/ns/1.0"

FACET_ETEXT_PAGE = ("EP", BDR)
FACET_ETEXT_LINE = ("EL", BDR)
FACET_ETEXT_REF = ("ER", BDR)
FACET_VOLUME = ("VL", BDR)

PAGE_INSERT = "\n\n"
LINE_INSERT = "\n"

RTF_P = re.compile(r"(\s*\d*(PAGE|\$)[\x00-\x7f-ħ]*)+")


def _tei(path: str) -> str:
    return "/".join("{%s}%s" % (TEI, p) for p in path.split("/"))


def etext_literal(s: str) -> tuple[str, str | None]:
    """EtextMigration.getLiteral:260-270 (C20)."""
    c = ord(s[0])
    if 0x0F00 <= c <= 0x0FFF:
        return s, "bo"
    if c <= 0x36F:
        return s, "bo-x-ewts"
    return s, None


def normalize_body_string(s: str, from_rtf: bool, etext_id: str, ctx: Ctx) -> str:
    """EtextBodyMigration.normalizeString:52-68 (C21).

    NB the reference LOGS RTF garbage but the replaceAll result is
    discarded (java:63), so the junk stays in the output — preserved."""
    from xmltoldmigration_spark.functions.lang import normalize_tibetan

    res = normalize_tibetan(s)
    res = re.sub(" ([ཱ-ཾ]་?) ", r"\1", res)
    res = res.replace(" ", " ")
    if from_rtf:
        for m in RTF_P.finditer(res):
            if m.group(0):
                ctx.error("etext", etext_id, etext_id, "body",
                          f"removed RTF string `{m.group(0)}`")
    return res


_ID_P = re.compile(r"^UT[^_]+_([^_]+)_(\d+)$")


def migrate(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    """Standalone shape = MigrationTest.testEtext:521-541 config.

    In app mode the distributor directory in the source path decides
    page-name translation (EtextMigration.java:170: UCB-OCR etext page
    `n` attributes are image file names, not numbers)."""
    npt = False
    if ctx.app_mode:
        # Key on the distributor directory anywhere in the path, not a
        # fixed second segment: absolute paths / deeper nesting (e.g.
        # /data/tbrc-etexts/UCB-OCR/W1/x.xml) must still enable it.
        parts = (ctx.src_path or "").split("/")
        npt = "UCB-OCR" in parts[:-1]
    etext_em, item_em, content = migrate_one_etext(
        root, ctx,
        is_paginated=True,
        needs_page_name_translation=npt,
    )
    return [etext_em, item_em]


def migrate_one_etext(
    root: ET.Element,
    ctx: Ctx,
    is_paginated: bool,
    needs_page_name_translation: bool,
):
    file_desc = root.find(_tei("teiHeader/fileDesc"))
    title_stmt = file_desc.find(_tei("titleStmt"))
    publication_stmt = file_desc.find(_tei("publicationStmt"))
    source_desc = file_desc.find(_tei("sourceDesc"))

    indicated_work_id = None
    for idno in source_desc.iter("{%s}idno" % TEI):
        if idno.get("type") == "TBRC_RID":
            indicated_work_id = C.text_of(idno).strip()
            break
    e_instance_id = "IE" + indicated_work_id[1:]
    abstract_work_id = "WA" + indicated_work_id[1:]
    other = ctx.auth.constraint_wa("M" + indicated_work_id, abstract_work_id)
    if other is not None:
        abstract_work_id = other

    etext_id = None
    for idno in publication_stmt.iter("{%s}idno" % TEI):
        if idno.get("type") == "TBRC_TEXT_RID":
            etext_id = C.text_of(idno).strip().replace("-", "_")
            break

    etext_em = Emitter(graph=etext_id)
    etext = BDR + etext_id
    etype = BDO + "Etext" + ("Paginated" if is_paginated else "NonPaginated")
    C.create_root(etext_em, etext, etype)

    item_em = Emitter(graph=e_instance_id)
    item = BDR + e_instance_id
    C.create_root(item_em, item, BDO + "EtextInstance")
    item_em.add(item, BDO + "contentMethod",
                iri(BDR + ("ContentMethod_OCR" if needs_page_name_translation
                           else "ContentMethod_ComputerInput")))
    item_em.add(item, BDO + "inCollection", iri(BDR + "PR0ET001"))
    adm_item = C.create_admin_root(item_em, item)
    item_em.add(adm_item, ADM + "contentProvider", iri(BDA + "CP001"))
    item_em.add(adm_item, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
    C.add_released(item_em, adm_item)
    # the work's access and ric reach this AdminData in the pipeline
    # (J13: Pipeline._propagate_work_admin and the ric side join)
    item_em.add(adm_item, ADM + "access", iri(BDA + "AccessOpen"))
    # born-digital etexts keep these too: telling them apart needs the
    # work's unicodeText flag, another record (COVERAGE.md)
    item_em.add(item, BDO + "instanceReproductionOf", iri(BDR + indicated_work_id))
    item_em.add(item, BDO + "instanceReproductionOf", iri(BDR + "M" + indicated_work_id))
    # back-links into work / image-instance graphs (J14) — emitted
    # as link rows, joined in the pipeline instead of file rewrites
    ctx.link(etext_id, "instanceHasReproduction", indicated_work_id)
    item_em.add(item, BDO + "instanceOf", iri(BDR + abstract_work_id))

    etext_em.add(etext, BDO + "eTextInInstance", iri(BDR + e_instance_id))
    adm_etext = BDA + etext_id
    etext_em.add(adm_etext, RDF_TYPE, iri(ADM + "AdminData"))
    etext_em.add(adm_etext, ADM + "adminAbout", iri(etext))
    etext_em.add(adm_etext, BDO + "isRoot", boolean(True))
    C.add_released(etext_em, adm_etext)

    # volume / seqnum from the id (EtextMigration.fillInfosFromId:288-326)
    m = _ID_P.match(etext_id)
    vol, seq_num = 1, 0
    if m:
        seq_num = int(m.group(2))
        try:
            vol = int(m.group(1))
            if vol > 800:
                vol = 1  # image-group named volume; resolved by pipeline join
        except ValueError:
            pass
    if seq_num == 0:
        etext_em.add(etext, BDO + "eTextIsVolume", integer(vol))
    else:
        etext_em.add(etext, BDO + "eTextInVolume", integer(vol))
        etext_em.add(etext, BDO + "eTextVolumeIndex", integer(seq_num))

    # item etext part (EtextMigration.getItemEtextPart:374-410)
    vol_res = item_em.facet_node(FACET_VOLUME, BDO + "VolumeEtextAsset")
    item_em.add(item, BDO + "instanceHasVolume", iri(vol_res))
    item_em.add(vol_res, BDO + "volumeNumber", integer(vol))
    item_em.add(vol_res, BDO + "volumeOf", iri(item))
    seq_res = item_em.facet_node(FACET_ETEXT_REF, BDO + "EtextRef")
    item_em.add(vol_res, BDO + "volumeHasEtext", iri(seq_res))
    item_em.add(seq_res, BDO + "seqNum", integer(seq_num if seq_num != 0 else 1))
    item_em.add(seq_res, BDO + "eTextResource", iri(BDR + etext_id))

    # titles
    titles_seen: list[str] = []
    from xmltoldmigration_spark.functions.text import normalize_string

    for title in title_stmt.iter("{%s}title" % TEI):
        t = normalize_string(C.text_of(title))
        if t.startswith("﻿"):
            t = t[1:]
        if not t or re.fullmatch(r"\[[0-9]*\]", t):
            continue
        if t not in titles_seen:
            titles_seen.append(t)
            v, tag = etext_literal(t)
            if tag is None:
                ctx.error("gen", etext_id, etext_id, "title", f"cannot determine language of {t}")
            etext_em.add(etext, SKOS + "prefLabel", lit(v, tag))

    for idno in source_desc.iter("{%s}idno" % TEI):
        if idno.get("type") == "SRC_PATH":
            etext_em.add(etext, BDO + "eTextSourcePath", lit(C.text_of(idno).strip()))
            break

    content = migrate_body(
        root, ctx, etext_em, etext_id, needs_page_name_translation, is_paginated,
    )
    ctx.result.contents.append(("etext:" + etext_id, content))
    return etext_em, item_em, content


def migrate_body(
    root: ET.Element,
    ctx: Ctx,
    em: Emitter,
    etext_id: str,
    needs_page_name_translation: bool,
    keep_pages: bool,
) -> str:
    """EtextBodyMigration.MigrateBody:77-183 — TEI body -> text + page/line
    slice facets; \n line separators, \n\n page separators."""
    page_shift = 2 if (not needs_page_name_translation and keep_pages
                       and not etext_id.startswith("UT23703_")) else 0
    etext = BDR + etext_id
    body = root.find(_tei("text/body/div"))
    if body is None:
        return ""
    out: list[str] = []
    current_points = 0
    first_page = True
    for par in body.iter("{%s}p" % TEI):
        if len(par) == 0 and not (par.text or ""):
            continue
        page_r = em.facet_node(FACET_ETEXT_PAGE, BDO + "EtextPage")
        em.add(etext, BDO + "eTextHasPage", iri(page_r))
        page_num = par.get("n", "")
        if page_num:
            if needs_page_name_translation:
                # distributed variant of EtextBodyMigration.java:108-120:
                # instead of a record-local lookup into another record's
                # file, emit a pageimg reference row; the pipeline joins
                # it against the imagegroup's exploded ondisk list
                # (plans/pipeline.py _side_joins)
                dotidx = page_num.rfind(".")
                m = _ID_P.match(etext_id)
                if dotidx == -1:
                    ctx.error("gen", etext_id, etext_id, "page",
                              f"strange image name in etext xml: {page_num}")
                elif m is None:
                    ctx.error("gen", etext_id, etext_id, "page",
                              f"can't find image group id in {etext_id}")
                else:
                    ig = m.group(1)
                    if not ig.startswith("I"):
                        ig = "I" + ig
                    ctx.result.contents.append((
                        "pageimg:" + etext_id,
                        "|".join([page_r, ig, page_num[:dotidx].lower(), page_num]),
                    ))
            else:
                try:
                    em.add(page_r, BDO + "seqNum", integer(int(page_num) + page_shift))
                except ValueError:
                    ctx.error("etext", etext_id, etext_id, "page",
                              f"cannot convert image to int {page_num}")
        page_begin = current_points
        linenum = 0
        first_line = True

        # DOM childNodes = leading text + (element, tail) pairs
        chunks: list[tuple[str, str | None]] = []
        if par.text:
            chunks.append(("text", par.text))
        for child in par:
            chunks.append(("milestone", child.get("n", "")))
            if child.tail:
                chunks.append(("text", child.tail))
        for kind, payload in chunks:
            if kind == "milestone":
                if not keep_pages:
                    continue
                try:
                    linenum = int(payload)
                except ValueError:
                    linenum = 0
                continue
            s = payload
            if not s:
                continue
            if not first_line:
                out.append(LINE_INSERT)
                current_points += len(LINE_INSERT)
            elif not first_page:
                out.append(PAGE_INSERT)
                current_points += len(PAGE_INSERT)
                page_begin += len(PAGE_INSERT)
            s = normalize_body_string(s, not needs_page_name_translation, etext_id, ctx)
            str_len = len(s)
            if keep_pages and linenum != 0:
                line_r = em.facet_node(FACET_ETEXT_LINE, BDO + "EtextLine")
                em.add(page_r, BDO + "pageHasLine", iri(line_r))
                em.add(line_r, BDO + "seqNum", integer(linenum))
                em.add(line_r, BDO + "sliceStartChar", integer(current_points))
                em.add(line_r, BDO + "sliceEndChar", integer(current_points + str_len))
            current_points += str_len
            out.append(s)
            first_page = False
            first_line = False
        em.add(page_r, BDO + "sliceStartChar", integer(page_begin))
        em.add(page_r, BDO + "sliceEndChar", integer(current_points))
    return "".join(out)
