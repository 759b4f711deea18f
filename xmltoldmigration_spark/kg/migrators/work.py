"""Work migrator — reference: xml2files/WorkMigration.java:255-733.

One work record fans out into up to four graphs (SURVEY.md §1.2 IRI
minting): the instance (bdr:M<rid> / bdr:IE<rid>), the abstract work
(bdr:WA<rid>), an optional serial work (bdr:WAS<rid>), and FPL item
graphs (bdr:IT<rid>) from the description block.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import (
    ADM,
    BDA,
    BDO,
    BDR,
    SKOS,
    Emitter,
    boolean,
    integer,
    iri,
    lit,
)

NS = "http://www.tbrc.org/models/work#"

IMAGE_ITEM_SUFFIX = ""  # CommonMigration.java:83


def abstract_for_rid(rid: str) -> str:
    return "WA" + rid[1:]


def add_redirection(em: Emitter, old_rid: str, new_rid: str) -> None:
    """WorkMigration.addRedirection:147-153 — withdrawn stub + replaceWith."""
    old = BDR + old_rid
    adm = C.create_admin_root(em, old)
    C.add_status(em, adm, "withdrawn")
    em.add(adm, ADM + "replaceWith", iri(BDR + new_rid))


def normalize_scan_info(ctx: Ctx, rid: str, s: str, root: ET.Element) -> str | None:
    """WorkMigration.normalizeScanInfo:155-221 (C17) + approximateSrYear:223-253."""
    if "atluj" in s:
        cidx = s.find("Comments: ")
        comments = " " + s[cidx:] if cidx != -1 else ""
        address = ("Scanned at M/S Satluj Infotech Images, E-45, Sector 27 Noida, "
                   "District Gautam Buddha Nagar, U.P. 201301 via New Delhi, India "
                   "for the Buddhist Digital Resource Center.")
        if "ingh" in s:
            if "infotech" in s:
                address = ("Scanned at M/S Satluj Infotech Images, 63-F Sujan Singh Park, "
                           "New Delhi, India for the Buddhist Digital Resource Center.")
            else:
                address = ("Scanned by M/S Satluj Siti Enterprises, 63-F Sujan Singh Park, "
                           "New Delhi, India for the Buddhist Digital Resource Center.")
        return address + comments
    if s.startswith((
        "Scanned at Tibetan Buddhist Resource Center, 150 West 17th St, New York City",
        "Scanned at Tibetan Buddhist Resource Center, 1430",
        "Scanned at Scanned in partnership with",
    )):
        base_cam = ("Scanned at Tibetan Buddhist Resource Center, 1430 Massachusetts "
                    "Avenue, Cambridge, MA 02138, USA.")
        try:
            i = int(s[-4:])
            if i < 2012:
                return s
            if 2012 < i < 2016:
                cidx = s.find("Comments: ")
                return base_cam if cidx == -1 else base_cam + " " + s[cidx:].strip()
            if i > 2016:
                cidx = s.find("Comments: ")
                return None if cidx == -1 else s[cidx + 10:].strip()
        except ValueError:
            pass
        ym = _approximate_sr_year(root)
        if ym is None:
            ctx.error("gen", rid, rid, "scanInfo", "can't find scanrequest date")
            return s
        y, mth = ym
        if y < 2012 or (y == 2012 and mth < 6):
            return s
        if (y == 2012 and mth >= 6) or (2012 < y < 2016) or (y == 2016 and mth <= 4):
            cidx = s.find("Comments: ")
            return base_cam if cidx == -1 else base_cam + " " + s[cidx:].strip()
        cidx = s.find("Comments: ")
        return None if cidx == -1 else s[cidx + 10:].strip()
    return s


def _approximate_sr_year(root: ET.Element):
    for log in C.elems(root, NS, "log"):
        entries = C.elems(log, NS, "entry") + [e for e in log.iter("entry")]
        for entry in entries:
            if C.text_of(entry).lower().startswith("added volumemap for scan request"):
                date = C.attr(entry, "when")
                if date:
                    return int(date[0:4]), int(date[5:7])
    return None


_ACCESS = {
    "openAccess": "AccessOpen",
    "restrictedSealed": "AccessRestrictedSealed",
    "temporarilyRestricted": "AccessRestrictedTemporarily",
    "restrictedByTbrc": "AccessRestrictedByTbrc",
}


def migrate(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    work_id = C.attr(root, "RID")
    a_work_id = abstract_for_rid(work_id)
    status = C.attr(root, "status")
    emitters: list[Emitter] = []

    info_node_type = ""
    info_number = ""
    info_parent = ""
    for current in C.elems(root, NS, "info"):
        info_node_type = C.attr(current, "nodeType").strip()
        info_number = C.attr(current, "number").strip()
        info_parent = C.attr(current, "parent").strip()
    is_series_member = bool(info_number)
    if "LEGACY" in info_parent:
        info_parent = ""
    if info_parent == work_id:
        ctx.error("gen", work_id, work_id, "info", "parent set to the resource RID")
        info_parent = ""

    em = None  # instance graph emitter
    main = None
    adm_main = None
    em_a = None  # abstract graph emitter
    main_a = None
    adm_main_a = None
    em_s = None  # serial-work graph emitter
    serial_w = None
    canonical_conceptual = False

    redirection_instance_id = ctx.auth.instance_clusters.get(work_id)
    if redirection_instance_id is not None:
        status = "withdrawn"

    if is_series_member and status != "withdrawn":
        other_member = ctx.auth.series_clusters.get(work_id, work_id)
        em = Emitter(graph="M" + work_id)
        if redirection_instance_id is not None:
            add_redirection(em, "M" + work_id, redirection_instance_id)
        main = C.create_root(em, BDR + "M" + work_id, BDO + "SerialInstance")
        adm_main = C.create_admin_root(em, main)
        emitters.append(em)
        em.add(main, BDO + "seriesNumber", lit(info_number))
        em_a = Emitter(graph=a_work_id)
        main_a = C.create_root(em_a, BDR + a_work_id, BDO + "Work")
        adm_main_a = C.create_admin_root(em_a, main_a)
        C.add_status(em_a, adm_main_a, "released")
        em.add(main, BDO + "instanceOf", iri(main_a))
        em_a.add(main_a, BDO + "workHasInstance", iri(main))
        emitters.append(em_a)
        # every member writes the serial work: the reference's
        # first-wins rule (A5) needs a pipeline join
        serial_work_id = "WAS" + (info_parent[1:] if info_parent else other_member[1:])
        em_s = Emitter(graph=serial_work_id)
        # NB reference quirk: serialW root triples land in mA's model
        # (WorkMigration.java:333 createRoot(mA, ...)) — we put them in
        # the serial graph, set-equivalent after the merge
        serial_w = BDR + serial_work_id
        C.create_root(em_s, serial_w, BDO + "SerialWork")
        adm_serial = C.create_admin_root(em_s, serial_w)
        C.add_status(em_s, adm_serial, status)
        em_s.add(adm_serial, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
        emitters.append(em_s)
        em.add(main, BDO + "serialInstanceOf", iri(BDR + serial_work_id))
        em_s.add(serial_w, BDO + "serialHasInstance", iri(main))
    elif info_node_type == "conceptualWork" and status != "withdrawn":
        em_a = Emitter(graph=a_work_id)
        if redirection_instance_id is not None:
            add_redirection(em_a, "M" + work_id, redirection_instance_id)
        add_redirection(em_a, work_id, a_work_id)
        main_a = C.create_root(em_a, BDR + a_work_id, BDO + "Work")
        adm_main_a = C.create_admin_root(em_a, main_a)
        canonical_conceptual = a_work_id in set(ctx.auth.abstract_rkts.values())
        C.add_status(em_a, adm_main_a, "released")
        if not canonical_conceptual and a_work_id != "WA0BC003":
            em_a.add(main_a, BDO + "language", iri(BDR + "LangBo"))
        if a_work_id == "WA0BC003":
            em_a.add(main_a, BDO + "language", iri(BDR + "LangZh"))
        emitters.append(em_a)
    else:
        if info_node_type == "unicodeText":
            ie_id = "IE" + work_id[1:]
            em = Emitter(graph=ie_id)
            if redirection_instance_id is not None:
                add_redirection(em, "M" + work_id, redirection_instance_id)
            add_redirection(em, work_id, ie_id)
            main = C.create_root(em, BDR + ie_id, BDO + "EtextInstance")
            emitters.append(em)
        else:
            em = Emitter(graph="M" + work_id)
            if redirection_instance_id is not None:
                add_redirection(em, "M" + work_id, redirection_instance_id)
            main = C.create_root(em, BDR + "M" + work_id, BDO + "Instance")
            emitters.append(em)
        adm_main = C.create_admin_root(em, main)
        if (
            redirection_instance_id is None
            and status != "withdrawn"
            and not work_id.startswith("W1EAP")
            and not work_id.startswith("W1FPL")
            and (
                not work_id.startswith("W1FEMC")
                or ctx.auth.constraint_wa("M" + work_id, a_work_id) is not None
            )
        ):
            other_abstract = ctx.auth.constraint_wa("M" + work_id, a_work_id)
            if other_abstract is None and info_parent:
                other_abstract = abstract_for_rid(info_parent)
            em_a = Emitter(graph=a_work_id)
            if not work_id.startswith("W1FEMC"):
                emitters.append(em_a)
            main_a = C.create_root(em_a, BDR + a_work_id, BDO + "Work")
            adm_main_a = C.create_admin_root(em_a, main_a)
            if other_abstract is None or other_abstract == a_work_id:
                C.add_status(em_a, adm_main_a, status)
                em.add(main, BDO + "instanceOf", iri(main_a))
                em_a.add(main_a, BDO + "workHasInstance", iri(main))
            else:
                if not work_id.startswith("W1FEMC"):
                    add_redirection(em_a, a_work_id, other_abstract)
                    # graph reduced to the redirect stub: drop the Work root
                    em_a.remove_matching(BDR + a_work_id)
                    em_a.remove_matching(BDA + a_work_id)
                    main_a = None
                    adm_main_a = None
                C.add_symmetric_property(ctx, em, "instanceOf", "M" + work_id, other_abstract)

    if adm_main is not None:
        C.add_status(em, adm_main, status)
        em.add(adm_main, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
    if adm_main_a is not None:
        em_a.add(adm_main_a, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))

    if adm_main is not None:
        C.add_notes(ctx, em, root, main, NS)
        C.add_externals(ctx, em, root, main, NS)
    elif adm_main_a is not None:
        C.add_notes(ctx, em_a, root, main_a, NS)
        C.add_externals(ctx, em_a, root, main_a, NS)

    # log entries go on the work if possible (WorkMigration.java:424-429)
    if adm_main_a is not None:
        C.add_log(ctx, em_a, root, adm_main_a, NS)
    elif adm_main is not None:
        C.add_log(ctx, em, root, adm_main, NS)

    if not canonical_conceptual:
        C.add_titles(
            ctx, root, NS,
            (em, main) if main is not None else None,
            (em_a, main_a) if main_a is not None else None,
            guess_label=True,
        )
    if serial_w is not None:
        for k in em_a.triples:
            if k[0] == main_a and k[1] == SKOS + "prefLabel":
                em_s.add(serial_w, SKOS + "prefLabel", (k[2], k[3], k[4], k[5]))

    if main_a is not None:
        C.add_subjects(ctx, em_a, main_a, root, NS)

    if main is not None:
        fpl_em = C.add_descriptions(
            ctx, em, root, main, NS, False,
            (em_a, main_a) if main_a is not None else None,
        )
        if fpl_em is not None:
            emitters.append(fpl_em)

        # copyright status (J18)
        if work_id in ctx.auth.copyright_claimed:
            em.add(main, BDO + "copyrightStatus", iri(BDR + "CopyrightClaimed"))
        elif work_id in ctx.auth.copyrighted:
            em.add(main, BDO + "copyrightStatus", iri(BDR + "CopyrightInCopyright"))
        elif work_id in ctx.auth.copyright_undetermined:
            em.add(main, BDO + "copyrightStatus", iri(BDR + "CopyrightUndetermined"))

        # archiveInfo (WorkMigration.java:491-560)
        has_archive = has_access = has_license = False
        access_uri = legal_uri = None
        is_ric = False
        for current in C.elems(root, NS, "archiveInfo"):
            has_archive = True
            license_value = C.attr(current, "license").strip()
            license_value = (
                BDA + "LD_BDRC_Copyright" if license_value == "copyright" else BDA + "LD_BDRC_PD"
            )
            has_license = True
            value = C.attr(current, "access").strip()
            if value in _ACCESS:
                value = _ACCESS[value]
            elif value == "fairUse":
                license_value = BDA + "LD_BDRC_Copyright"
                value = "AccessFairUse"
            elif value == "restrictedByQuality":
                value = "AccessFairUse" if "Copyright" in license_value else "AccessOpen"
            elif value == "restrictedInChina":
                value = "AccessFairUse" if "Copyright" in license_value else "AccessOpen"
                is_ric = True
            else:
                value = ""
            if value:
                access_uri = BDA + value
                has_access = True
            legal_uri = license_value
            nbvols = C.attr(current, "vols").strip()
            if nbvols:
                try:
                    n = int(nbvols)
                    if n < 0:
                        raise ValueError
                    if n != 0:
                        em.add(main, BDO + "numberOfVolumes", integer(n))
                except ValueError:
                    ctx.error("gen", C._local(main), C._local(main), "archiveInfo/vols",
                              f"cannot parse number of volumes `{nbvols}`")
        if has_archive and not has_access:
            access_uri = BDA + "AccessOpen"
        if has_archive and not has_license:
            legal_uri = BDA + "LD_BDRC_PD"
        if C._local(main) in ctx.auth.ric:
            is_ric = True
        # J13: emitted as a side row so the pipeline can propagate work
        # admin info into etext instances (MigrationApp.moveAdminInfo:152-171)
        ctx.result.contents.append((
            "workAdmin:" + work_id,
            "|".join([access_uri or "", legal_uri or "", "1" if is_ric else "0"]),
        ))
        if is_ric:
            em.add(adm_main, ADM + "restrictedInChina", boolean(True))
            if adm_main_a is not None:
                em_a.add(adm_main_a, ADM + "restrictedInChina", boolean(True))

    # creators (WorkMigration.java:577-611)
    for current in C.elems(root, NS, "creator"):
        value = C.attr(current, "type").strip() or "hasMainAuthor"
        if main is None and value != "hasMainAuthor":
            continue
        person = C.attr(current, "person").strip()
        if not person:
            continue
        if person == "Add to DLMS":
            person = C.text_of(current).strip()
            if person:
                ctx.error("missing", C._local(main) if main else a_work_id,
                          C._local(main) if main else a_work_id, "creator",
                          f"needs to be added to dlms: `{value}`")
        else:
            person = ctx.auth.sanitize_rid(person)
            if not ctx.auth.is_disconnected(person):
                C.add_agent_as_creator(
                    ctx,
                    (em, main) if main is not None else None,
                    BDR + person,
                    value,
                    (em_a, main_a) if main_a is not None else None,
                )

    # catalogInfo elements -> abstract work
    if main_a is not None:
        for current in C.elems(root, NS, "catalogInfo"):
            lv = C.get_literal(ctx, current, "en", "catalogInfo", C._local(main_a), None)
            if lv is None:
                continue
            em_a.add(main_a, BDO + "catalogInfo", lit(lv[0], lv[1]))

    if main is not None:
        # inProduct (WorkMigration.java:626-664)
        for current in C.elems(root, NS, "inProduct"):
            content = C.text_of(current).strip()
            value = C.attr(current, "pid").strip()
            if content.startswith("Collection:"):
                em.add(adm_main, ADM + "contentProvider", iri(BDA + "CP04" + value[-1:]))
            elif content.startswith("Catalog:"):
                note = _find_catalog_note(em, main)
                if note is None:
                    note = em.facet_node(C.FACET_NOTE, BDO + "Note")
                    em.add(note, BDO + "noteText", lit("Catalog"))
                    em.add(main, BDO + "note", iri(note))
                cat = (
                    BDR + "W1FEMC01" if value == "PR1FEMC01"
                    else BDR + "W1FEMC02" if value == "PR1FEMC02"
                    else BDA + value
                )
                em.add(note, BDO + "noteSource", iri(cat))
            else:
                if (
                    work_id not in ctx.auth.remove_w
                    and value not in ("PR1COPYRIGHT", "PR01UNRESTR")
                ):
                    em.add(main, BDO + "inCollection", iri(BDR + value))

        # scanInfo (C17)
        for current in C.elems(root, NS, "scanInfo"):
            lv = C.get_literal(ctx, current, "en", "scanInfo", C._local(main), None)
            if lv is None:
                continue
            s = normalize_scan_info(ctx, C._local(main), lv[0], root)
            if s is None:
                continue
            em.add(main, BDO + "scanInfo", lit(s, "en"))

        # volumes: reproduction link + missing-volume ranges (A8)
        _add_volumes(ctx, em, main, root, work_id, redirection_instance_id)

    return emitters


def _find_catalog_note(em: Emitter, main: str):
    note_nodes = [
        k[3] for k in list(em.triples)
        if k[0] == main and k[1] == BDO + "note" and k[2] == "iri"
    ]
    for node in note_nodes:
        for k in list(em.triples):
            if k[0] == node and k[1] == BDO + "noteText" and k[3].startswith("Catalog"):
                em.remove(node, BDO + "noteText", (k[2], k[3], k[4], k[5]))
                return node
    return None


def _add_volumes(ctx: Ctx, em: Emitter, main: str, root: ET.Element, work_id: str,
                 redirection_instance_id: str | None) -> None:
    volumes = C.elems(root, NS, "volume")
    last_volume = 0
    for j, volume in enumerate(volumes):
        if j == 0 and work_id not in ctx.auth.remove_w:
            item_local = "W" + work_id[1:] + IMAGE_ITEM_SUFFIX
            if not ctx.one_direction:
                if redirection_instance_id is None:
                    em.add(main, BDO + "instanceHasReproduction", iri(BDR + item_local))
                else:
                    ctx.result.symmetric.append(
                        (redirection_instance_id, "instanceHasReproduction", item_local)
                    )
        ig_id = C.attr(volume, "imagegroup").strip()
        if not ig_id:
            continue
        if not ig_id.startswith("I"):
            ctx.error("gen", C._local(main), C._local(main), "volume",
                      f"image group `{ig_id}` does not start with `I`")
            continue
        num = C.attr(volume, "num").strip()
        if not num:
            ctx.error("missing", C._local(main), C._local(main), "volume",
                      f"missing volume number for image group `{ig_id}`")
            continue
        try:
            this_vol = int(num)
            if this_vol < 0:
                raise ValueError
        except ValueError:
            ctx.error("missing", C._local(main), C._local(main), "volume",
                      f"cannot parse volume number `{num}` for image group `{ig_id}`")
            continue
        if this_vol <= last_volume:
            ctx.error("missing", C._local(main), C._local(main), "volume",
                      f"volume list is not in the correct order (`{last_volume}` before "
                      f"for image group `{this_vol}`)")
            continue
        ctx.link(work_id, "volume:" + str(this_vol), ig_id)
        last_volume = this_vol
