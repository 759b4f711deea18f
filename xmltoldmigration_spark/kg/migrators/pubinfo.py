"""Pubinfo migrator — reference: xml2files/PubinfoMigration.java:52-815.

Enriches the instance graph created by the work migrator (J7); the
standalone entry (`migrate`) mirrors the reference's testing wrapper
(PubinfoMigration.MigratePubinfo:52-87) which synthesizes the MW / W /
WA roots from isPubInfoFor.
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
    BF,
    RDF_TYPE,
    SKOS,
    Emitter,
    iri,
    lit,
)

NS = "http://www.tbrc.org/models/pubinfo#"

_COMPUTER_INPUT_DBU_MED = frozenset(
    "W8LS25451 W8LS25572 W8LS25575 W8LS25578 W8LS25590 W8LS25593 "
    "W8LS26096 W8LS26099 W8LS26102 W8LS26105 W8LS26182 W8LS26185".split()
)

# --- C18: encoding-string -> languages (PubinfoMigration.java:355-619).
# Exact-match lists (including source-data misspellings), then contains()
# fallbacks.  Spec: (lang, script, gated) — gated=True means the Tibetan
# entry is skipped once langTibetanDone.
_ENC_GROUPS: list[tuple[list[str], list[tuple]]] = [
    (
        """in tibetan བོད་ཡིག ྦོབོད་ཡིག ྦབོད་ཡིག  ྐབོད་ཡིག ྦོོབོད་ཡིག བོ་དཡིག ཡིག ྐབོད་ཡིག
           བོད་ཡི བོད་ཡིངག ྦོད་ཡིག བོད་སྐད། བིད་ཡིག བོད་ཡིབ བོད་ཡོག བོདཡིག བོད བོད་ བོད་ཡིག་
           བ་ོད་ཡིག བོག་ཡིག ྦིབོད་ཡིག བོད་ཡིག༌ ོབོད་ཡིག བོད་རིགས། བོང་ཡིག
           in_tibetab in_tibtetan inntibetan intibetan in_tibet inn_tibetan in_tibatan
           ln_tibetan in_tibean in_tibeta in_tibetabn in_toibetan in_tbetan in_tibetyan
           in_ttibetan in_tibeatan in_tebe in_tibetan; in_tibeatn tibetan in_tibtan
           im_tibetan in_tiibetan in_titeian in__tibetan in་tibetan in_tibat in_tietan
           oin_tibetan in_tobetan in_ti_betan in_tidetan un_tibetan in_tiobetan
           ni_tibetan in_tibtatan""",
        [("bo", "LangBo", "ScriptTibt", True)],
    ),
    ("extendedwylie estended_wylie extended_wylie", [("bo", "LangBo", "ScriptLatn", False)]),
    ("in_dzongkha", [("dz", "LangDz", "ScriptTibt", False)]),
    (
        """བོད་དབྱིན། དབྱིན་ཡིག བོད་ཡིག__དབྱིན་ཡིག བོད་དབྱིན དབྱིན་བོད། བོད་ཡིག_english
           in_tibetan_&_english in_tibetan_and_english in_english_and_tibetan
           in_tibean_&_english tibetan_and_english""",
        [("en", "LangEn", None, False), ("bo", "LangBo", "ScriptTibt", True)],
    ),
    ("in_chinese in_chinece chinese", [("zh", "LangZh", "ScriptHani", False)]),
    (
        """in_chinese_&_tibetan in_tibetan_and_chinese in_chinese_and_tibetan
           in_tibetan_&_chinese in_tibetan_and_chinise in_tibetan_with_chinese
           in_tibetan_and_chinece in_tibetan_and_chinses in_tibetan_with_chinece
           in_chinese，tibetan in_chinese_in_tibetan in_tibetan_chinese
           tobetan_with_chinece in_tibetab_with_chinece""",
        [("bo", "LangBo", "ScriptTibt", True), ("zh", "LangZh", "ScriptHani", False)],
    ),
    ("in_sanskrit", [("sa", "LangSa", None, False)]),
    (
        """བོད་ཡིག་དང་རྒྱ་ཡིག། in_sanskrit_&_tibetan in_sanskrit_and_tibetan
           in_tibetan_and_sanskrit in_tibetan_&_sanskrit""",
        [("bo", "LangBo", "ScriptTibt", True), ("sa", "LangSa", None, False)],
    ),
    ("in_mongolian mongolian", [("cmg", "LangMn", "ScriptMong", False)]),
    (
        "in_tibetan_and_mongol in_tibetan_and_mongolian in_mongolian_and_tibetan",
        [("bo", "LangBo", "ScriptTibt", True), ("cmg", "LangMn", "ScriptMong", False)],
    ),
    ("english in_english en", [("en", "LangEn", None, False)]),
    ("in_khmer", [("km", "LangKm", "ScriptKhmr", False)]),
    ("in_pāli", [("pi", "LangPi", "ScriptKhmr", False)]),
    (
        """in_tibetan,_english_and_chinese in_chinese,_tibetan_and_english
           in_tibetan,_chinese_&_english in_tibetan,_chinece_and_english
           tibetan,_english_and_chinese in_tibetan_chinese_english
           in_tibetan,_chinese_and_english in_chinese,_english_and_tibetan
           in_english,_tibetan_and_chinese""",
        [
            ("bo", "LangBo", "ScriptTibt", True),
            ("en", "LangEn", None, False),
            ("zh", "LangZh", "ScriptHani", False),
        ],
    ),
    (
        """in_tibetan;_an_excerpt_in_english in_tibetan;_notes_in_english
           in_tibetan;_preface_in_english in_tibetan;_pref._in_english
           in_tibetan,_preface_in_english in_tibetan;_prefatory_in_english
           in_tibetan;_publisher's_note_in_english in_tibetan;_includes_english_terms
           in_tibetan;_introduction_in_english introduction_in_english
           in_tibetan;_brief_biography_of_author_in_english
           in_tibetan;_preface_and_acknowledge_in_english
           in_tibetan;_prologue_and_acknowledgements_in_tibetan_and_english""",
        [("bo", "LangBo", "ScriptTibt", True), ("en", "LangEn", None, False)],
    ),
]

_ENC_EXACT: dict[str, list[tuple]] = {}
for _keys, _spec in _ENC_GROUPS:
    for _k in _keys.split():
        _ENC_EXACT[_k.replace("_", " ")] = _spec

_ENC_CONTAINS = [
    ("chinese", ("zh", "LangZh", "ScriptHani", False)),
    (("english", "དབྱིན", "ཨིན"), ("en", "LangEn", None, False)),
    ("mongol", ("cmn", "LangMn", "ScriptMong", False)),
    ("german", ("de", "LangDe", "ScriptLatn", False)),
    ("french", ("fr", "LangFr", "ScriptLatn", False)),
    ("burmese", ("my", "LangMy", "ScriptMymr", False)),
    (("tibet", "བོད"), ("bo", "LangBo", "ScriptTibt", False)),
    (("sanskrit", "རྒྱ"), ("sa", "LangSa", None, False)),
    ("dzongkha", ("dz", "LangDz", "ScriptTibt", False)),
    ("hindi", ("hi", "LangHi", None, False)),
]


def validate_isbn(v: str) -> str | None:
    """commons-validator ISBNValidator semantics (C11): returns the
    normalized ISBN or None."""
    s = v.replace("-", "").replace(" ", "").upper()
    if len(s) == 10:
        if not s[:9].isdigit() or not (s[9].isdigit() or s[9] == "X"):
            return None
        total = sum((10 - i) * (10 if c == "X" else int(c)) for i, c in enumerate(s))
        return s if total % 11 == 0 else None
    if len(s) == 13:
        if not s.isdigit():
            return None
        total = sum((1 if i % 2 == 0 else 3) * int(c) for i, c in enumerate(s))
        return s if total % 10 == 0 else None
    return None


def migrate(root: ET.Element, ctx: Ctx) -> list[Emitter]:
    """Test shape (testing wrapper PubinfoMigration.java:52-87) unless
    ctx.app_mode: then the MW/W/WA roots already exist from the work pass
    (J7) — this record only emits enrichment triples into those graphs,
    which the pipeline's set-union merges (the read-modify-write
    elimination of SURVEY.md S6)."""
    rid = C.attr(root, "RID")
    value = None
    for current in C.elems(root, NS, "isPubInfoFor"):
        value = C.attr(current, "work")
    if not value:
        em = Emitter(graph=rid)
        ctx.error("gen", rid, rid, "work", "missing work ID!")
        return [em]
    if ctx.app_mode:
        em = Emitter(graph="M" + value)
        main = BDR + "M" + value
        item = BDR + value
        em_a = Emitter(graph="WA" + value[1:])
        main_a = BDR + "WA" + value[1:]
        items = migrate_into(root, ctx, em, main, (em_a, main_a), item)
        return [em, em_a] + items
    em = Emitter(graph=rid)
    main = C.create_root(em, BDR + "M" + value, BDO + "Instance")
    item = C.create_root(em, BDR + value, BDO + "ImageInstance")
    C.create_admin_root(em, main)
    main_a = C.create_root(em, BDR + "WA" + value[1:], BDO + "Work")
    items = migrate_into(root, ctx, em, main, (em, main_a), item)
    return [em] + items


def migrate_into(
    root: ET.Element,
    ctx: Ctx,
    em: Emitter,
    main: str,
    main_a: tuple | None,  # (Emitter, iri)
    item: str | None,
) -> list[Emitter]:
    """PubinfoMigration.MigratePubinfo:155-715 — enrich instance graph."""
    rid = C.attr(root, "RID")
    work_rid = rid[1:]
    em_a, a_iri = main_a if main_a is not None else (None, None)

    _simple(ctx, em, root, main, "printery", BDO + "workPrintery", "bo-x-ewts")
    _simple_date(ctx, em, root, main, "publisherDate", "PublishedEvent", "instanceEvent")
    _simple_id(ctx, em, root, main, "lcCallNumber", BF + "ShelfMarkLcc")
    _simple_id(ctx, em, root, main, "lccn", BF + "Lccn")
    _simple_id(ctx, em, root, main, "hollis", BDR + "HollisId")
    _simple_id(ctx, em, root, main, "seeHarvard", BDR + "HarvardShelfId")
    _simple_id(ctx, em, root, main, "pl480", BDR + "PL480")
    _simple_id(ctx, em, root, main, "isbn", BF + "Isbn")
    _simple(ctx, em, root, main, "authorshipStatement", BDO + "authorshipStatement", C.EWTS)
    if em_a is not None:
        _simple_date(ctx, em_a, root, a_iri, "dateOfWriting", "CompletedEvent", "workEvent")
    _simple(ctx, em, root, main, "extent", BDO + "extentStatement", None)
    _simple(ctx, em, root, main, "illustrations", BDO + "illustrations", None)
    _simple(ctx, em, root, main, "dimensions", BDO + "dimensionsStatement", None)
    _simple(ctx, em, root, main, "volumes", BDO + "volumesNote", None)
    _biblio_note(ctx, em, root, main, item)
    _simple(ctx, em, root, main, "sourceNote", BDO + "sourceNote", "en")
    _simple(ctx, em, root, main, "editionStatement", BDO + "editionStatement", C.EWTS)

    status = C.attr(root, "status")
    extra_emitters: list[Emitter] = []

    # series (J6); every member writes the WAS serial work: the
    # reference's first-wins rule (A5) needs a pipeline join
    series_names = []
    for current in C.elems(root, NS, "seriesName"):
        lv = C.get_literal(ctx, current, C.EWTS, "seriesName", rid, None)
        if lv is not None:
            series_names.append(lv)
    if series_names:
        if em_a is None:
            em_a = em
            a_iri = C.create_root(em, BDR + "WA" + work_rid[1:], BDO + "Work")
            C.create_admin_root(em, a_iri)
            em.add(main, BDO + "instanceOf", iri(a_iri))
            em.add(a_iri, BDO + "workHasInstance", iri(main))
        if status != "withdrawn":
            serial_work_id = "WAS" + ctx.auth.series_clusters.get(work_rid, work_rid)[1:]
            em_s = Emitter(graph=serial_work_id)
            serial_w = C.create_root(em_s, BDR + serial_work_id, BDO + "SerialWork")
            adm_s = C.create_admin_root(em_s, serial_w)
            C.add_status(em_s, adm_s, status)
            em_s.add(adm_s, ADM + "metadataLegal", iri(BDA + "LD_BDRC_CC0"))
            for v, t in series_names:
                em_s.add(serial_w, SKOS + "prefLabel", lit(v, t))
            extra_emitters.append(em_s)
            em.add(main, BDO + "serialInstanceOf", iri(BDR + serial_work_id))
            C.add_symmetric_property(ctx, em, "serialInstanceOf", C._local(main), serial_work_id)
        em.add(main, BDO + "instanceOf", iri(a_iri))
        em_a.add(a_iri, BDO + "workHasInstance", iri(main))
    series_number = None
    for current in C.elems(root, NS, "seriesNumber"):
        v = C.text_of(current).strip()
        if v:
            series_number = v
    if series_number is not None:
        em.add(main, BDO + "seriesNumber", lit(series_number))
        em.add(main, RDF_TYPE, iri(BDO + "SerialInstance"))
        if a_iri is not None:
            em.add(main, BDO + "instanceOf", iri(a_iri))

    C.add_notes(ctx, em, root, main, NS)
    C.add_externals(ctx, em, root, main, NS)
    adm_main = BDA + C._local(main)
    C.add_log(ctx, em, root, adm_main, NS)

    # printType (C19)
    found_print_type = ""
    found_langs: set[str] = set()
    needs_publisher = False
    if "FPL" in work_rid or "FEMC" in work_rid or "W1EAP" in work_rid:
        em.add(main, BDO + "printMethod", iri(BDR + "PrintMethod_Manuscript"))
    for current in C.elems(root, NS, "printType"):
        value = C.attr(current, "type").strip()
        found_print_type = value
        if value == "dbuMed":
            if work_rid in _COMPUTER_INPUT_DBU_MED:
                em.add(main, BDO + "contentMethod", iri(BDR + "ContentMethod_ComputerInput"))
                em.add(main, BDO + "printMethod", iri(BDR + "PrintMethod_Modern"))
                needs_publisher = True
            else:
                em.add(main, BDO + "printMethod", iri(BDR + "PrintMethod_Manuscript"))
        elif value == "dbuCan":
            em.add(main, BDO + "printMethod", iri(BDR + "PrintMethod_Manuscript"))
        elif value == "blockprint":
            em.add(main, BDO + "printMethod", iri(BDR + "PrintMethod_Relief_WoodBlock"))
        elif value in ("longPalmLeaf", "shortPalmLeaf"):
            em.add(main, BDO + "material", iri(BDR + "MaterialCoryphaPalmLeaf"))
            em.add(main, BDO + "printMethod", iri(BDR + "PrintMethod_Manuscript"))
            em.add(main, BDO + "format",
                   iri(BDR + ("FormatLongPalmLeaf" if value == "longPalmLeaf" else "FormatShortPalmLeaf")))
        elif value == "leporello":
            em.add(main, BDO + "binding", iri(BDR + "Binding_Continuous_Leporello"))
        elif value == "computerInput":
            em.add(main, BDO + "contentMethod", iri(BDR + "ContentMethod_ComputerInput"))
            em.add(main, BDO + "printMethod", iri(BDR + "PrintMethod_Modern"))
            needs_publisher = True
        elif value == "OCR":
            em.add(main, BDO + "contentMethod", iri(BDR + "ContentMethod_OCR"))
            needs_publisher = True
        elif value in ("typeSet", "facsimile"):
            em.add(main, BDO + "contentMethod",
                   iri(BDR + ("ContentMethod_TypeSet" if value == "typeSet" else "ContentMethod_Facsimile")))
            em.add(main, BDO + "printMethod", iri(BDR + "PrintMethod_Modern"))
            needs_publisher = True

    if "FPL" not in work_rid and "FEMC" not in work_rid and "W1EAP" not in work_rid:
        _simple_pub(ctx, em, root, main, "publisherName", BDO + "publisherName", "en", needs_publisher)
        _simple_pub(ctx, em, root, main, "publisherLocation", BDO + "publisherLocation", "en", needs_publisher)

    def add_lang_script(lang: str, script: str | None):
        s = script
        if found_print_type == "dbuCan":
            s = "ScriptDbuCan"
        elif found_print_type == "dbuMed":
            s = "ScriptDbuMed"
        if em_a is None:
            em.add(main, BDO + "language", iri(BDR + lang))
        if s is not None:
            em.add(main, BDO + "script", iri(BDR + s))
        if em_a is not None:
            em_a.add(a_iri, BDO + "language", iri(BDR + lang))

    encodings = C.elems(root, NS, "encoding")
    if not encodings and (work_rid.startswith("W1FPL") or work_rid.startswith("W1EAP")):
        add_lang_script("LangPi", "ScriptMymr")
        found_langs.add("pi")
    if len(encodings) == 1 and work_rid.startswith("W1FEMC"):
        s = C.text_of(encodings[0])
        if "Pāli" in s:
            add_lang_script("LangPi", "ScriptKhmr")
            found_langs.add("pi")
        else:
            add_lang_script("LangKm", "ScriptKhmr")
            found_langs.add("km")
    lang_tibetan_done = False
    for current in encodings:
        value = C.text_of(current).strip()
        if not value:
            continue
        value = value.lower().rstrip(".")
        spec = _ENC_EXACT.get(value)
        if spec is not None:
            for code, lang, script, gated in spec:
                found_langs.add(code)
                if not gated or not lang_tibetan_done:
                    add_lang_script(lang, script)
        else:
            matched = False
            for needles, (code, lang, script, _) in _ENC_CONTAINS:
                if isinstance(needles, str):
                    needles = (needles,)
                if any(n in value for n in needles):
                    found_langs.add(code)
                    add_lang_script(lang, script)
                    matched = True
            if not found_langs:
                ctx.error("gen", rid, rid, "encoding",
                          "cannot find language in encoding string: " + value)
    if not found_langs:
        add_lang_script("LangBo", "ScriptTibt")

    # prefLabel language check (A2 demotion, PubinfoMigration.java:621-652)
    if len(found_langs) == 1 and C.attr(root, "status") == "released":
        langofwork = next(iter(found_langs))
        if langofwork == "dz":
            langofwork = "bo"
        pref = [k for k in em.triples if k[0] == main and k[1] == SKOS + "prefLabel"]
        keep = [k for k in pref if (k[4] or "").startswith(langofwork)]
        if keep:
            for k in pref:
                if k in keep:
                    continue
                em.remove(main, SKOS + "prefLabel", (k[2], k[3], k[4], k[5]))
                em.add(main, SKOS + "altLabel", (k[2], k[3], k[4], k[5]))
                if em_a is not None:
                    em_a.remove(main, SKOS + "prefLabel", (k[2], k[3], k[4], k[5]))
                    em_a.add(main, SKOS + "altLabel", (k[2], k[3], k[4], k[5]))
        elif pref:
            ctx.error("gen", rid, rid, "encoding",
                      f"no title found in the work language ({langofwork})")

    for current in C.elems(root, NS, "sourcePrintery"):
        value = C.attr(current, "place").strip()
        if value:
            value = ctx.auth.sanitize_rid(value)
            em.add(main, BDO + "hasSourcePrintery", iri(BDR + value))
        else:
            value = C.text_of(current).strip()
            if value:
                em.add(main, BDO + "sourcePrinteryStatement", lit(value))
            else:
                ctx.error("gen", rid, rid, "sourcePrintery", "missing source printery ID!")

    # holdings -> item graphs (IT…_NNN)
    for i, current in enumerate(C.elems(root, NS, "holding")):
        item_name = "IT" + C._local(main)[1:] + "_%03d" % (i + 1)
        # splitItems=false (PubinfoMigration.java:674-679) writes holdings
        # into the instance's own model instead of separate IT* graphs
        it_em = Emitter(graph=item_name) if ctx.split_items else em
        holding = BDR + item_name
        it_em.add(holding, RDF_TYPE, iri(BDO + "Item"))
        it_em.add(holding, BDO + "itemForInstance", iri(main))
        if not ctx.one_direction:
            em.add(main, BDO + "instanceHasItem", iri(BDR + item_name))
        _simple(ctx, it_em, current, holding, "exception", BDO + "itemException", C.EWTS)
        for sub in C.elems(root, NS, "shelf"):
            v = C.text_of(sub).strip()
            if v:
                it_em.add(holding, BDO + "itemShelf", lit(v))
            v = C.attr(sub, "copies").strip()
            if v:
                it_em.add(holding, BDO + "itemCopies", lit(v))
        for sub in C.elems(root, NS, "library"):
            v = C.attr(sub, "rid").strip()
            if v:
                it_em.add(holding, BDO + "itemLibrary", iri(BDR + v))
            else:
                ctx.error("gen", C._local(main), C._local(main), "holding",
                          "Pubinfo holding has no library RID!")
        if it_em is not em:
            extra_emitters.append(it_em)
    return extra_emitters


def _simple(ctx, em, root, main, element, prop, default_lang):
    rid = C.attr(root, "RID") or em.graph
    for current in C.elems(root, NS, element):
        if default_lang is not None:
            lv = C.get_literal(ctx, current, default_lang, element, rid, None)
            if lv is not None:
                em.add(main, prop, lit(lv[0], lv[1]))
        else:
            value = C.text_of(current).strip()
            if not value:
                return
            em.add(main, prop, lit(value))


def _simple_pub(ctx, em, root, main, element, prop, default_lang, needs_publisher):
    from xmltoldmigration_spark.functions.text import is_empty_pub_value

    rid = C.attr(root, "RID")
    for current in C.elems(root, NS, element):
        value = C.text_of(current).strip()
        if not value or is_empty_pub_value(value):
            if not needs_publisher:
                continue
            # getLiteral re-reads the element text, so patch a copy
            current = _clone_with_text(
                current, "[s.n.]" if element == "publisherName" else "[s.l.]"
            )
        lv = C.get_literal(ctx, current, default_lang, element, rid, None)
        if lv is not None:
            em.add(main, prop, lit(lv[0], lv[1]))


def _clone_with_text(elem: ET.Element, text: str) -> ET.Element:
    new = ET.Element(elem.tag, dict(elem.attrib))
    new.text = text
    return new


def _biblio_note(ctx, em, root, main, item):
    rid = C.attr(root, "RID")
    for current in C.elems(root, NS, "biblioNote"):
        lv = C.get_literal(ctx, current, "en", "biblioNote", rid, None)
        if lv is None:
            continue
        s = lv[0]
        if item is not None and (
            rid.startswith(("MW1NLM", "MW1FEMC", "MW1EAP"))
            or s.startswith(("image", "Scan", "scan", "copy made", "Copy made"))
        ):
            em.add(item, BDO + "scanInfo", lit(lv[0], lv[1]))
        else:
            em.add(main, BDO + "biblioNote", lit(lv[0], lv[1]))


def _simple_id(ctx, em, root, main, element, type_uri):
    for current in C.elems(root, NS, element):
        value = C.text_of(current).strip()
        if not value:
            return
        if element == "lcCallNumber":
            value = value.upper()
        if element == "isbn":
            valid = validate_isbn(value)
            if valid is not None:
                value = valid
            else:
                ctx.error("gen", C._local(main), C._local(main), "isbn", "invalid isbn: " + value)
        C.add_identifier(em, main, type_uri, value)


def _simple_date(ctx, em, root, main, element, event_type, prop_local):
    if main is None:
        return
    for current in C.elems(root, NS, element):
        value = C.text_of(current).strip()
        if not value:
            return
        if "n" in value and "d" in value and len(value) < 10:
            return
        event = C.get_event(em, main, event_type, prop_local, reuse=True)
        C.add_dates(em, value, event)
