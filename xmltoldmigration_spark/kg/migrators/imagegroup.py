"""Imagegroup migrator — reference: xml2files/ImagegroupMigration.java:36-278."""

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
    FACET_LOG_ENTRY,
    RDF_TYPE,
    XSD,
    Emitter,
    integer,
    iri,
    lit,
)

NS = "http://www.tbrc.org/models/imagegroup#"




def migrate(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    """Test shape (ImagegroupMigration.java:45-52) unless ctx.app_mode:
    then item + volume number derive from isVolumeOf (J8), matching the
    MigrationApp work-pass wiring (MigrationApp.java:404-428)."""
    if ctx.app_mode:
        work = num = None
        for cur in C.elems(root, NS, "isVolumeOf"):
            work = C.attr(cur, "work").strip()
            num = C.attr(cur, "num").strip()
            break
        if work:
            item_local = "W" + work[1:]
            em = Emitter(graph=item_local)
            item = BDR + item_local
            try:
                voln = int(num) if num else 1
            except ValueError:
                voln = 1
            migrate_into(root, ctx, em, item, C.attr(root, "RID"), voln, item_local)
            ctx.link(C.attr(root, "RID"), "isVolumeOf", work)
            return [em]
    em = Emitter(graph="WTestInstance")
    item = C.create_root(em, BDR + "WTestInstance", BDO + "ImageInstance")
    C.create_admin_root(em, item)
    migrate_into(root, ctx, em, item, "testVolName", 1, "testVolumesName")
    return [em]


def migrate_into(
    root: ET.Element,
    ctx: Ctx,
    em: Emitter,
    item: str,
    volume_name: str,
    volume_number: int,
    volumes_name: str,
) -> None:
    ig_rid = C.attr(root, "RID").strip()
    status = C.attr(root, "status").strip()
    vol = BDR + ig_rid
    em.add(vol, RDF_TYPE, iri(BDO + "ImageGroup"))
    adm_vol = BDA + ig_rid
    em.add(adm_vol, RDF_TYPE, iri(ADM + "AdminData"))
    em.add(adm_vol, ADM + "adminAbout", iri(vol))

    if volume_number < 1:
        ctx.error("gen", volumes_name, volume_name, "imagegroup",
                  f"invalid volume number, must be a positive integer, got `{volume_number}`")
    em.add(vol, BDO + "volumeNumber", integer(volume_number))
    if not ctx.one_direction:
        em.add(item, BDO + "instanceHasVolume", iri(vol))
    em.add(vol, BDO + "volumeOf", iri(item))

    C.add_status(em, adm_vol, status)
    C.add_log(ctx, em, root, adm_vol, NS)
    C.add_descriptions(ctx, em, root, vol, NS)
    # raw ondisk image list side-output: feeds the distributed etext
    # page-name translation join (MigrationHelpers.getImgmapForImggrp:
    # 857-891 reads it back from the imagegroup file; here it rides the
    # contents stream — the reference's LAST matching description wins)
    imglist = None
    for current in C.elems(root, NS, "description"):
        if C.attr(current, "type").strip() in ("ondisk", "onDisk"):
            imglist = C.text_of(current)
    if imglist and imglist.strip():
        ctx.result.contents.append(("imgmap:" + ig_rid, imglist))
    em.add(adm_vol, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))

    for current in C.elems(root, NS, "images"):
        v = C.attr(current, "tbrcintro").strip()
        if v:
            em.add(vol, BDO + "volumePagesTbrcIntro", ("lit", v, None, XSD + "integer"))
        v = C.attr(current, "text").strip()
        if v and v.startswith("-"):
            ctx.error("gen", volumes_name, volume_name, "imagegroup:text",
                      f"image group had a negative value for `text`: `{v}`")
        v = C.attr(current, "total").strip()
        if v:
            em.add(vol, BDO + "volumePagesTotal", ("lit", v, None, XSD + "integer"))

    for current in C.elems(root, NS, "scanning"):
        lv = C.get_literal(ctx, current, "en", "scanInfo", C._local(item), None)
        if lv is not None:
            em.add(item, BDO + "scanInfo", lit(lv[0], lv[1]))

    for current in C.elems(root, NS, "qc"):
        if len(list(current)) == 0 and not (C.text_of(current) or "").strip():
            continue
        log_entry = em.facet_node(FACET_LOG_ENTRY)
        em.add(log_entry, RDF_TYPE, iri(ADM + "ContentQC"))
        em.add(adm_vol, ADM + "logEntry", iri(log_entry))
        for sub in C.elems(current, NS, "qcperson"):
            value = C.text_of(sub).strip()
            if not value:
                return
            num = C._LOG_WHO.get(value)
            if num is None:
                nums = C._LOG_WHO_LIST.get(value)
                if nums is None:
                    em.add(log_entry, ADM + "logWhoStr", lit(value))
                else:
                    for n in nums:
                        em.add(log_entry, ADM + "logWho",
                               iri("http://purl.bdrc.io/resource-nc/user/U%05d" % n))
            else:
                em.add(log_entry, ADM + "logWho",
                       iri("http://purl.bdrc.io/resource-nc/user/U%05d" % num))
        for sub in C.elems(current, NS, "qcnotes"):
            value = C.text_of(sub).strip()
            if not value:
                return
            em.add(log_entry, ADM + "logMessage", lit(C.normalize_keep(value), "en"))
        for sub in C.elems(current, NS, "qcdate"):
            value = C.text_of(sub).strip()
            if not value:
                return
            value = C.normalize_keep(value)
            qc = qcdate_to_xsd(value)
            if qc is None:
                em.add(log_entry, ADM + "logMessage", lit(value))
            else:
                em.add(log_entry, ADM + "logDate", ("lit", qc[0], None, qc[1]))


def qcdate_to_xsd(qcdate: str) -> tuple[str, str] | None:
    """ImagegroupMigration.qcdateToXsdDate:231-278 (C8), pinned by
    MigrationTest.java:568-592."""
    qcdate = qcdate.replace("/", "-").replace(".", "-")
    qcdate = re.sub(r"^-", "", qcdate)
    qcdate = qcdate.replace("--", "-")
    year = month = day = None
    if re.fullmatch(r"\d+", qcdate):
        year = qcdate
    if re.fullmatch(r"\d{6}", qcdate):
        qcdate = qcdate[0:2] + "-" + qcdate[2:4] + "-" + qcdate[4:]
    if not re.fullmatch(r"[0-9-]+", qcdate):
        return None
    parts = qcdate.split("-")
    if len(parts) == 2:
        month, year = parts[0], parts[1]
    elif len(parts) > 2:
        month, day, year = parts[0], parts[1], parts[2]
    if month is not None and len(month) == 1:
        month = "0" + month
    if day is not None and len(day) == 1:
        day = "0" + day
    if year is None:
        return None
    if len(year) == 1:
        year = "200" + year
    if len(year) == 2:
        year = "20" + year
    if len(year) == 3:
        year = "2" + year
    if month is not None and day is not None and int(month) > 12:
        month, day = day, month
    if day is None:
        if month is None:
            return year, XSD + "gYear"
        return year + "-" + month, XSD + "gYearMonth"
    return year + "-" + month + "-" + day, XSD + "date"
