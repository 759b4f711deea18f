"""Shared record-local emission logic — the CommonMigration port surface.

Pure Python over xml.etree.ElementTree; called by every per-type migrator
inside the vectorized parse stage.  Reference: CommonMigration.java
(2,196 LoC) — each helper cites the lines it re-expresses.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

from xmltoldmigration_spark.functions import lang as L
from xmltoldmigration_spark.functions import text as T

# Tibetan block U+0F00..U+0FFF — C-speed membership test for the script
# sniff in get_literal (a per-char Python genexpr there was ~2 % of parse)
_TIB_CHAR = re.compile("[ༀ-࿿]")
from xmltoldmigration_spark.kg.authority import Authority
from xmltoldmigration_spark.kg.model import (
    ADM,
    BDA,
    BDG,
    BDO,
    BDR,
    BDU,
    BF,
    RDF,
    RDFS,
    SKOS,
    XSD,
    Emitter,
    FACET_CONTENT_LOC,
    FACET_CREATOR,
    FACET_EVENT,
    FACET_IDENTIFIER,
    FACET_LOG_ENTRY,
    FACET_NAME,
    FACET_NOTE,
    FACET_TITLE,
    RDF_TYPE,
    RecordResult,
    boolean,
    integer,
    iri,
    lit,
)

EWTS = "bo-x-ewts"
RDF_VALUE = RDF + "value"


# ---------------------------------------------------------------- XML utils

def elems(e: ET.Element, ns: str, tag: str):
    """getElementsByTagNameNS — all descendants (DOM semantics)."""
    return list(e.iter("{%s}%s" % (ns, tag)))


def children(e: ET.Element, ns: str, tag: str):
    """CommonMigration.getChildrenByTagName — direct children only."""
    return [c for c in e if c.tag == "{%s}%s" % (ns, tag)]


def text_of(e: ET.Element) -> str:
    return "".join(e.itertext())


def attr(e: ET.Element, name: str, default: str = "") -> str:
    return e.get(name, default)


def normalize_keep(s: str) -> str:
    return T.normalize_string(s, keep_spaces=True)


# ---------------------------------------------------------------- context

@dataclass
class Ctx:
    """Per-record migration context: authority tables + side outputs.

    Each Ctx serves one record, so it holds no state for another record
    to read: a cross-record fact leaves as a side row (`result.contents`,
    `result.links`) and meets its reader in a pipeline join."""

    # the run's tables, handed in by the caller; a bare Ctx() gets the
    # empty authority, never a read of the resource files
    auth: Authority = field(default_factory=Authority)
    result: RecordResult = field(default_factory=RecordResult)
    # per-graph logDate -> logEntry node (same-date merge for I* graphs,
    # CommonMigration.java:1062-1070)
    log_by_date: dict = field(default_factory=dict)
    # SymetricNormalization.normalizeOneDirection(oneDirection,
    # preferManyOverOne) (java:44-62): the XML corpus runs (true, false);
    # the CSV transfers run (false, false) -> both directions kept.
    # Every caller passes preferManyOverOne=false, so it is not a field:
    # one-direction runs keep the "one" side (partOf, volumeOf,
    # itemForInstance, instanceOf) and drop the "many" side.
    one_direction: bool = True
    # True when running the full-corpus pipeline (MigrationApp shape);
    # False replicates the per-record test wrappers (MigrationTest shape)
    app_mode: bool = False
    # source path of the record being migrated (set by the parse stage);
    # etext migration derives the distributor from it
    # (EtextMigration.migrateEtexts:153-240 walks distributor dirs)
    src_path: str = ""
    # WorkMigration.splitItems (java:56, default true in production;
    # MigrationTest.java:75 sets false): item models from work
    # descriptions / pubinfo holdings become separate IT* graphs when
    # true, or merge into the instance's own graph when false
    split_items: bool = True

    def error(self, etype: str, rid: str, sub_rid: str, prop: str, msg: str):
        self.result.errors.append((etype, rid, sub_rid, prop, msg))

    def link(self, src: str, prop: str, dst: str):
        self.result.links.append((src, prop, dst))


# ---------------------------------------------------------------- roots

GIT_REPO_BY_TYPE = {
    # adm:gitRepo constants per entity type (MigrationApp type order)
    "corporation": "GR0001",
    "lineage": "GR0002",
    "office": "GR0003",
    "outline": "GR0004",
    "person": "GR0006",
    "place": "GR0007",
    "topic": "GR0008",
    "work": "GR0012",
    "item": "GR0011",
    "product": "GR0014",
    "etext": "GR0009",
}


def create_root(em: Emitter, rid_iri: str, type_iri: str) -> str:
    """bdrc-libraries Models.createRoot as observed in every golden:
    `bdr:RID a <type> ; :isRoot true`."""
    em.add(rid_iri, RDF_TYPE, iri(type_iri))
    em.add(rid_iri, BDO + "isRoot", boolean(True))
    return rid_iri


def create_admin_root(em: Emitter, main: str) -> str:
    """Models.createAdminRoot: bda:RID sidecar (golden P1331.ttl:43-51)."""
    return create_admin_root_for(em, main, main[len(BDR):])


def create_admin_root_for(em: Emitter, main_iri: str, local: str) -> str:
    """Models.createAdminRoot for any root IRI; subscribers live outside
    the bdr namespace, so their graph-local name is passed in."""
    adm = BDA + local
    em.add(adm, RDF_TYPE, iri(ADM + "AdminData"))
    em.add(adm, ADM + "adminAbout", iri(main_iri))
    em.add(adm, ADM + "graphId", iri(BDG + local))
    em.add(adm, BDO + "isRoot", boolean(True))
    return adm


def add_status(em: Emitter, adm: str, status: str) -> None:
    """Models.addStatus: adm:status bda:Status<Capitalized>."""
    if not status:
        status = "released"
    em.add(adm, ADM + "status", iri(BDA + "Status" + status[0].upper() + status[1:]))


def add_released(em: Emitter, adm: str) -> None:
    em.add(adm, ADM + "status", iri(BDA + "StatusReleased"))


def finalize_graph(em: Emitter, adm: str, rtype: str) -> None:
    """Environment metadata the reference writes on AdminData; excluded
    from parity (FIXTURES.md §A.2) but kept for output fidelity."""
    local = em.graph
    em.add(adm, ADM + "facetIndex", integer(em.facet_index))
    em.add(adm, ADM + "gitPath", lit(T.dst_shard(local) + "/" + local + ".trig"))
    repo = GIT_REPO_BY_TYPE.get(rtype)
    if repo:
        em.add(adm, ADM + "gitRepo", iri(BDA + repo))


# ---------------------------------------------------------------- literals

def get_literal(
    ctx: Ctx,
    elem: ET.Element,
    dflt: str,
    property_hint: str,
    rid: str,
    sub_rid: str | None,
    normalize: bool = True,
):
    """CommonMigration.getLiteral:2070-2134 -> (value, bcp47_tag) | None."""
    value = text_of(elem).strip()
    if value.startswith("tbrc"):
        import re

        value = re.sub(
            r"tbrc holds digitally scanned images, tiffs and pdf files\s*;?:?\s*\d*\s*", "", value
        )
        value = re.sub(
            r"scanned for preservation purposes? only; not for distribution\s*;?:?\s*\d*\s*",
            "",
            value,
        )
    value = T.normalize_string(value) if normalize else value.strip()
    if not value:
        return None
    if "�" in value:
        ctx.error("lang", rid, sub_rid or rid, property_hint,
                  f"string contains invalid replacement character: `{value}`")
    tag = L.get_bcp47(attr(elem, "lang"), attr(elem, "encoding"), dflt)
    if tag is None:
        tag = dflt
    # LangStrings sniffs content script and overrides a mismatched
    # declared encoding (G844.xml declares extendedWylie on Tibetan-unicode
    # text and native on Latin text; golden flips both tags)
    has_tib = _TIB_CHAR.search(value) is not None
    if tag == "bo" and not has_tib:
        tag = EWTS
    elif tag == EWTS and has_tib:
        tag = "bo"
    if tag == "bo":
        value = L.normalize_tibetan(value)
        if value and L.is_combining(value[0]):
            ctx.error("lang", rid, sub_rid or rid, property_hint,
                      f"Unicode string `{value}` starts with combining character")
    if tag == "sa":
        if "+" in value:
            tag = "sa-x-ewts"
        elif L.is_deva(value):
            tag = "sa-Deva"
        else:
            tag = "sa-x-ndia"
    if tag == EWTS:
        if rid.startswith("W1FPL"):
            tag = "en"
        else:
            if value.startswith("[") and value.endswith("]"):
                value = "*" + value[1:-1].strip()
            if L.ewts_has_warnings(value):
                fixed = ctx.auth.ewts_fix(rid, value)
                if fixed is None:
                    if L.is_likely_english(value):
                        tag = "en"
                    else:
                        value = L.normalize_ewts(value)
                    ctx.error("ewts", rid, sub_rid or rid, property_hint,
                              f"ewts conversion warnings for `{value}`")
                elif fixed == "LNG":
                    tag = L.guess_lang(value)
                else:
                    value = fixed
            else:
                value = L.normalize_ewts(value)
    if tag == "zh":
        tag = (L.guess_zh_script(value, ctx.auth.trad_chars) if L.is_hani(value)
               else "zh-latn-pinyin-x-ndia")
    if tag == "zh-latn-pinyin" and not L.has_pinyin_diacritics(value):
        tag = "zh-latn-pinyin-x-ndia"
    if tag == "en" and value and 0x0F00 <= ord(value[0]) <= 0x0FFF:
        # LangStrings sniffs Tibetan-unicode content even under an English
        # default (G844 golden notes are @bo with no lang attribute)
        tag = "bo"
    return value, tag


# ---------------------------------------------------------------- names

def add_names(
    ctx: Ctx,
    em: Emitter,
    root: ET.Element,
    main: str,
    ns: str,
    guess_label: bool = True,
    additional_name_prop: str | None = None,
) -> bool:
    """CommonMigration.addNames:1154-1195 — first name per 2-letter lang
    wins skos:prefLabel, rest altLabel (A2)."""
    label_done: dict[str, bool] = {}
    res = False
    for current in children(root, ns, "name"):
        if not text_of(current).strip():
            continue
        lv = get_literal(ctx, current, EWTS, "name", _local(main), _local(main))
        if lv is None:
            continue
        value, tag = lv
        if guess_label:
            lang2 = tag[:2]
            if lang2 not in label_done:
                em.add(main, SKOS + "prefLabel", lit(value, tag))
                label_done[lang2] = True
            else:
                em.add(main, SKOS + "altLabel", lit(value, tag))
        else:
            em.add(main, RDFS + "label", lit(value, tag))
        if additional_name_prop:
            em.add(main, additional_name_prop, lit(value, tag))
        res = True
    return res


def _local(iri_or_local: str) -> str:
    return iri_or_local.rsplit("/", 1)[-1]


# ---------------------------------------------------------------- notes

def add_notes(ctx: Ctx, em: Emitter, root: ET.Element, main: str, ns: str) -> None:
    """CommonMigration.addNotes:779-806."""
    for e in children(root, ns, "note"):
        if not attr(e, "work") and not attr(e, "location") and not text_of(e).strip():
            continue
        note_lit = get_literal(ctx, e, "en", "note", _local(main), _local(main), normalize=False)
        note_loc = attr(e, "location").strip()
        work_rid = attr(e, "work").strip()
        note_work = None
        if work_rid:
            work_rid = ctx.auth.sanitize_rid("M" + work_rid)
            if not ctx.auth.is_disconnected(work_rid):
                note_work = BDR + work_rid
        if note_lit is None and not note_loc and note_work is None:
            continue
        node = em.facet_node(FACET_NOTE, BDO + "Note")
        em.add(main, BDO + "note", iri(node))
        if note_lit is not None:
            em.add(node, BDO + "noteText", lit(note_lit[0], note_lit[1]))
        if note_loc:
            em.add(node, BDO + "contentLocationStatement", lit(note_loc))
        if note_work is not None:
            em.add(node, BDO + "noteSource", iri(note_work))


# ---------------------------------------------------------------- externals

def add_externals(ctx: Ctx, em: Emitter, root: ET.Element, main: str, ns: str) -> None:
    """CommonMigration.addExternals:840-863."""
    for e in children(root, ns, "external"):
        value = attr(e, "data").strip()
        if not value:
            continue
        if "treasuryoflives.org" in value or "blog.tbrc.org" in value:
            continue
        if "tbrc.org" in value:
            em.add(main, RDFS + "seeAlso", iri(BDR + T.rid_from_tbrc_url(value)))
            continue
        em.add(main, RDFS + "seeAlso", lit(value, None, XSD + "anyURI"))


# ---------------------------------------------------------------- events

def get_event(em: Emitter, rez: str, event_type: str, event_prop: str, reuse: bool = False) -> str:
    if reuse:
        key = (rez, event_type, event_prop)
        node = em.event_cache.get(key)
        if node is None:
            node = em.facet_node(FACET_EVENT, BDO + event_type)
            em.add(rez, BDO + event_prop, iri(node))
            em.event_cache[key] = node
        return node
    node = em.facet_node(FACET_EVENT, BDO + event_type)
    em.add(rez, BDO + event_prop, iri(node))
    return node


def add_dates(em: Emitter, date_str: str, event: str) -> None:
    for prop, lex, dt in T.parse_dates(date_str):
        em.add(event, BDO + prop, lit(lex, None, dt))


# ---------------------------------------------------------------- log entries

from xmltoldmigration_spark.functions.logwho import LOG_WHO as _LOG_WHO
from xmltoldmigration_spark.functions.logwho import LOG_WHO_LIST as _LOG_WHO_LIST

_DATES_OF_AUTO = {
    # CommonMigration.datesOfAuto (CommonMigration.java:893-955): batch
    # import timestamps whose message marks the entry as BatchMethod.
    "2016-12-06T12:04:56.81Z": "FPL Import",
    "2012-12-25T01:09:21.507Z": "created by monastery import",
    "2012-12-11T17:11:51.984Z": "type changed from monastery to dgonPa",
    "2012-12-11T17:39:05.287Z": "type changed from traditionalPlaceName to srolRgyunGyiSaMing",
    "2015-10-27T19:58:07.021Z": "updating geometry for modern county",
    "2012-12-11T17:49:53.482Z": "type changed from zhangxiang to shang",
    "2013-12-03T23:23:40.962Z": "created by mongol import",
    "2012-12-13T17:05:29.03Z": "type changed from placeTypes:gzimsKhang to khamsTshan",
    "2012-12-11T17:21:51.251Z": "type changed from residentialHouse to gzimsKhang",
    "2012-12-11T17:29:31.108Z": "type changed from temple to lhaKhang",
    "2015-10-20T22:30:59.465Z": "populating gis from G9GBX...",
    "2012-12-11T17:08:33.797Z": "type changed from placeTypes:rdzong to sngarGyiRdzong",
    "2012-12-11T17:10:22.531Z": "type changed from hermitage to riKhrod",
    "2014-03-20T14:27:21.266Z": "added tbrc phonetic tulku title",
    "2014-04-22T00:30:13.577Z": "normalize encoding field for pub info",
    "2015-01-05T17:22:13.356Z": "added hollis field to pub info",
    "2017-08-28T14:31:58.652Z": "added archiveInfo for FPL",
    "2017-08-28T14:40:13.266Z": "added archiveInfo for FPL",
    "2014-05-02T18:19:14.334Z": "added seeHarvard to pub info",
    "2012-03-30T11:00:49.672Z": "generated from legacy\n                entries of Gene Smith",
    "2019-12-20T20:45:53.53Z": "updated missing pages info from NLM spreadsheet",
    "2019-12-20T20:42:53.606Z": "updated missing pages info from NLM spreadsheet",
    "2015-09-01T19:55:46.833Z": "subject class changed from T00AG01142 to T583",
    "2015-09-01T17:05:34.944Z": "subject class changed from T1PD53280 to T770",
    "2014-10-15T17:57:00.715Z": "updated catalog info",
    "2017-11-02T17:38:24.575Z": "changed access to restrictedInChina",
    "2015-05-14T15:56:26.693Z": "changed access to restrictedInChina",
    "2014-07-28T22:06:14.547Z": "normalized names of who and received elements - for real this time",
    "2014-07-29T16:42:13.479Z": "normalized names of who and received elements - yet again",
    "2014-07-28T21:20:44.974Z": "normalized names of who and received elements",
    "2014-07-29T20:49:23.894Z": "normalized names of who and received elements - yet again",
    "2014-07-29T01:25:54.03Z": "normalized names of who and received elements - for real this time",
    "2014-07-29T16:18:50.168Z": "normalized names of who and received elements - for real this time",
    "2014-05-17T11:18:37.731Z": "normalized catalog info",
    "2017-11-02T17:34:47.366Z": "changed access to restrictedByTbrc",
    "2014-04-21T23:05:36.322Z": "normalized catalog info",
    "2017-06-26T14:21:21.664Z": "made open access",
    "2017-06-26T14:20:59.643Z": "made open access",
    "2017-01-24T15:53:54.908Z": "marked as accessioned",
    "2020-06-17T14:18:30.613Z": "changed access to restrictedInChina",
    "2013-04-19T11:24:55.882Z": "added Work to CTC 10",
    "2014-10-15T18:10:30.945Z": "deleted inProduct PR1COPYRIGHT",
    "2014-10-15T17:56:23.536Z": "updated catalog info",
    "2014-04-23T19:16:52.743Z": "added ALA-LC title variant from Hollis spreadsheet",
    "2017-07-07T21:31:19.81Z": "added Work to CTC 14",
    "2014-03-07T15:45:20.935Z": "added Work to CTC 11",
    "2017-06-26T14:04:28.691Z": "made open access",
    "2018-04-05T14:36:06.065Z": "added Work to CTC 15",
    "2017-06-26T14:17:52.84Z": "made open access",
    "2016-12-05T22:50:12.299Z": "marked as accessioned",
    "2015-05-07T18:09:14.22Z": "added Work to CTC 12",
    "2013-04-19T11:05:48.485Z": "added Work to CTC 10",
    "2016-12-05T22:09:43.772Z": "marked as accessioned",
    "2016-12-05T22:11:09.047Z": "marked as accessioned",
    "2014-04-23T19:13:59.68Z": "added ALA-LC title variant from Hollis spreadsheet",
    "2014-05-02T17:27:14.339Z": "removed erroneous titles from previous update",
    "2016-05-10T16:55:52.884Z": "added Work to CTC 13",
    "2017-06-26T14:26:25.168Z": "made restrictedInChina",
    "2015-08-27T20:30:28.724Z": "subject class changed from T10MS11134 to T448",
}

import re as _re

_OLDSTYLE_RID = _re.compile(r"^[A-Z]+\d+$")


def add_log_entry(
    ctx: Ctx,
    em: Emitter,
    e: ET.Element | None,
    rez: str,
    entry_num: int,
    syncfound: bool,
) -> bool:
    """CommonMigration.addLogEntry:958-1117 — one <entry> -> one bda:LG node."""
    if e is None:
        return syncfound
    log_entry = None  # resolved name; None -> mint facet node at the end
    log_entry_type = ADM + "UpdateData"
    datevalue = attr(e, "when")
    rez_local = _local(rez)
    rid = rez_local[1:] if rez_local.startswith("MW") else rez_local
    is_batch = False
    log_agent = None
    isoldstyle = bool(_OLDSTYLE_RID.match(rid))

    if (
        (rid.startswith("W1FEMC") and entry_num == 1)
        or (rid.startswith("P0RK") and entry_num == 1)
        or (
            not rid.startswith("W1FEMC")
            and not rid.startswith("P0RK")
            and entry_num == 0
            and not isoldstyle
        )
    ):
        if rid.startswith(("W1FEMC", "W1NLM", "W1FPL", "W0TTBBC")):
            is_batch = True
            log_entry_type = ADM + "InitialDataImport"
            if datevalue:
                log_entry = BDA + "LGIM" + T.md5_hex(datevalue, 8)
        elif rid.startswith(("P0RK", "L1RK", "G9GBX")):
            log_entry_type = ADM + "InitialDataImport"
        else:
            log_entry_type = ADM + "InitialDataCreation"
    if rid.startswith("W1FEMC") and entry_num == 0:
        log_entry_type = ADM + "InitialDataCreation"

    value = T.normalize_string(text_of(e), keep_spaces=True)
    if rid.startswith("P0RK") and entry_num == 0:
        log_entry_type = ADM + "InitialDataCreation"
        datevalue = ""
        value = ""

    whovalue = T.normalize_string(attr(e, "who"))
    if (
        whovalue.endswith(".xql")
        or whovalue.endswith("mport")
        or whovalue.endswith("mporter")
        or whovalue.startswith("Imagegroups ")
        or whovalue == "pubinfo-add-biblioNote"
        or whovalue == "add-works-to-PR1CTC16"
    ):
        if log_entry_type.endswith("InitialDataCreation"):
            log_entry_type = ADM + "InitialDataImport"
        else:
            log_entry_type = ADM + "UpdateData"
        is_batch = True
        log_agent = whovalue
        whovalue = ""
        if datevalue:
            datehash = T.md5_hex(datevalue, 8)
            if log_agent == "works-femc03-import.xql":
                datehash += "3"
            log_entry = BDA + "LGIM" + datehash
        if rid in value or value.startswith("imported imagegroup for W"):
            value = ""

    date_lex = None
    date_dt = None
    try:
        if datevalue:
            date_lex, date_dt = T.xsd_date_literal(datevalue)
            date_lex_utc = T.datetime_to_utc_lex(date_lex) if date_dt == T.XSD_DATETIME else date_lex
        else:
            raise ValueError("empty")
    except ValueError:
        if datevalue:
            ctx.error("gen", rez_local, rez_local, "log_entry",
                      f"cannot convert log date properly, original date: `{datevalue}`")
        date_lex = None

    if date_lex is not None and _DATES_OF_AUTO.get(date_lex_utc) == value:
        if log_entry_type.endswith("InitialDataCreation"):
            log_entry_type = ADM + "InitialDataImport"
        else:
            log_entry_type = ADM + "UpdateData"
        is_batch = True
        log_entry = BDA + "LGIM" + T.md5_hex(date_lex_utc + value, 10)

    if datevalue and rez_local.startswith("I"):
        if datevalue == "2016-03-30T12:20:30.571-04:00":
            log_entry, log_entry_type, is_batch, syncfound = BDA + "LGIGS001", ADM + "UpdateData", True, True
        elif datevalue == "2016-03-31T17:27:09.458-04:00":
            log_entry, log_entry_type, is_batch, syncfound = BDA + "LGIGS002", ADM + "UpdateData", True, True
        elif datevalue == "2016-04-28T23:50:58.855Z":
            log_entry, log_entry_type, is_batch, syncfound = BDA + "LGIGS003", ADM + "UpdateData", True, True
        elif date_lex is not None and date_lex in ctx.log_by_date:
            # same-date log entries in one I* graph merge (java:1062-1070)
            log_entry = ctx.log_by_date[date_lex]

    if value.startswith("Convert2Outline"):
        log_entry_type = ADM + "InitialDataImport"
        log_agent = value
        value = ""

    if value:
        lcval = value.lower()
        if lcval.startswith("withdraw"):
            log_entry_type = ADM + "WithdrawData"
        if lcval.startswith("updated total pages") and datevalue not in (
            "2016-03-31T17:27:09.458-04:00",
            "2016-04-28T23:50:58.855Z",
            "2016-03-30T12:20:30.571-04:00",
        ):
            log_entry_type = ADM + ("ImagesUpdated" if syncfound else "Synced")
            syncfound = True
            is_batch = True
        if lcval.startswith("added volumemap for scan request"):
            log_entry_type = ADM + "ScanRequestCreation"

    if log_entry is None:
        log_entry = em.facet_node(FACET_LOG_ENTRY)
    if date_lex is not None:
        em.add(log_entry, ADM + "logDate", lit(date_lex_utc, None, date_dt))
        if rez_local.startswith("I"):
            ctx.log_by_date.setdefault(date_lex, log_entry)
    if value:
        em.add(log_entry, ADM + "logMessage", lit(value, "en"))
    em.add(log_entry, RDF_TYPE, iri(log_entry_type))
    if (
        whovalue
        and whovalue not in ("unspecified", "null")
        and not log_entry_type.endswith("Synced")
    ):
        num = _LOG_WHO.get(whovalue)
        if num is None:
            em.add(log_entry, ADM + "logWhoStr", lit(whovalue))
        else:
            em.add(log_entry, ADM + "logWho", iri(BDU + "U%05d" % num))
    if log_agent is not None:
        em.add(log_entry, ADM + "logAgent", lit(log_agent))
    if is_batch:
        em.add(log_entry, ADM + "logMethod", iri(BDA + "BatchMethod"))
    em.add(rez, ADM + "logEntry", iri(log_entry))
    return syncfound


def add_log(ctx: Ctx, em: Emitter, root: ET.Element, rez: str, ns: str) -> None:
    """CommonMigration.addLog:1121-1152."""
    syncfound = False
    for log in elems(root, ns, "log"):
        for j, entry in enumerate(elems(log, ns, "entry")):
            syncfound = add_log_entry(ctx, em, entry, rez, j, syncfound)
        no_ns = [c for c in log.iter("entry")]
        for k, entry in enumerate(no_ns):
            syncfound = add_log_entry(ctx, em, entry, rez, k, syncfound)
    rid = _local(rez)
    if _OLDSTYLE_RID.match(rid) and not rid.startswith("I"):
        node = em.facet_node(FACET_LOG_ENTRY)
        em.add(node, RDF_TYPE, iri(ADM + "InitialDataCreation"))
        em.add(rez, ADM + "logEntry", iri(node))
        em.add(node, ADM + "logWho", iri(BDU + "U00001"))
    if rid.startswith("L1RK"):
        node = em.facet_node(FACET_LOG_ENTRY)
        em.add(node, RDF_TYPE, iri(ADM + "InitialDataCreation"))
        em.add(rez, ADM + "logEntry", iri(node))
        em.add(node, ADM + "logWho", iri(BDU + "U00023"))


# ---------------------------------------------------------------- symmetric

# helpers/SymetricNormalization.java:66-89 with the pinned config
# normalizeOneDirection(oneDirection=true, preferManyOverOne=false)
# (MigrationApp.main:748, MigrationTest.init:72-77): isMain semantics —
# 0: direct edge dropped (inverse is canonical), 1: direct kept & no
# inverse queued, 2: both directions kept.  Ctx.one_direction=False
# keeps both directions of every pair.
_MANY = 0
_ONE = 1

_SYM_PROPS = {
    "placeContains": ("placeLocatedIn", _MANY),
    "placeLocatedIn": ("placeContains", _ONE),
    "instanceOf": ("workHasInstance", _ONE),
    "workHasInstance": ("instanceOf", _MANY),
    "serialMemberOf": ("serialHasMember", _ONE),
    "serialHasMember": ("serialMemberOf", _MANY),
    "serialInstanceOf": ("serialHasInstance", _ONE),
    "serialHasInstance": ("serialInstanceOf", _MANY),
    "personHasConsort": ("personHasConsort", 2),
    "personTeacherOf": ("personStudentOf", _MANY),
    "personStudentOf": ("personTeacherOf", _ONE),
}


def _kin_sym_info(prop: str, gender: str | None):
    """SymetricNormalization.getKinSymInfo:91-196 — the inverse of a
    kinship edge depends on the SOURCE person's gender."""
    g = gender or "u"
    if prop in ("hasSon", "hasDaughter"):
        return {"male": ("hasFather", 1), "female": ("hasMother", 1)}.get(g, ("hasParent", 1))
    if prop in ("hasMother", "hasFather"):
        return {"male": ("hasSon", 0), "female": ("hasDaughter", 0)}.get(g, ("hasChild", 0))
    if prop == "hasWife":
        return ("hasHusband", 1)
    if prop == "hasHusband":
        return ("hasWife", 0)
    if prop in ("hasSister", "hasBrother"):
        return {"male": ("hasBrother", 2), "female": ("hasSister", 2)}.get(g, ("hasSibling", 2))
    if prop in ("hasYoungerSister", "hasYoungerBrother"):
        return {"male": ("hasOlderBrother", 1), "female": ("hasOlderSister", 1)}.get(g)
    if prop in ("hasOlderSister", "hasOlderBrother"):
        return {"male": ("hasYoungerBrother", 0), "female": ("hasYoungerSister", 0)}.get(g)
    if prop in ("hasGrandMother", "hasGrandFather"):
        return {"male": ("hasGrandSon", 0), "female": ("hasGrandDaughter", 0)}.get(
            g, ("hasGrandChild", 0)
        )
    if prop in ("hasGrandDaughter", "hasGrandSon"):
        return {"male": ("hasGrandFather", 1), "female": ("hasGrandMother", 1)}.get(
            g, ("hasGrandParent", 1)
        )
    if prop in (
        "hasAunt", "hasUncle", "hasMaternalUncle", "hasPaternalUncle",
        "hasMaternalAunt", "hasPaternalAunt",
    ):
        return {"male": ("hasNephew", 0), "female": ("hasNiece", 0)}.get(g, ("hasNibling", 0))
    if prop in ("hasNephew", "hasNiece"):
        return {"male": ("hasUncle", 1), "female": ("hasAunt", 1)}.get(g, ("hasParentSibling", 1))
    if prop == "hasCousin":
        return ("hasCousin", 2)
    return None


def add_symmetric_property(
    ctx: Ctx, em: Emitter, prop: str, source: str, dest: str, gender: str | None = None
) -> None:
    """SymetricNormalization.addSymetricProperty:209-244.

    Emits the kept direction into this record's graph; queues the inverse
    edge (dest, inverse_prop, source) for the global completion stage
    (Spark: union + dedup + semi-join against migrated graphs, A1)."""
    if source in ctx.auth.rid_replacements:
        em.add(BDR + source, BDO + prop, iri(BDR + dest))
        return
    if gender is not None and prop != "personHasConsort":
        sym = _kin_sym_info(prop, gender)
    else:
        sym = _SYM_PROPS.get(prop)
    if sym is None:
        em.add(BDR + source, BDO + prop, iri(BDR + dest))
        return
    sym_uri, is_main = sym
    if not ctx.one_direction or is_main != 0:
        em.add(BDR + source, BDO + prop, iri(BDR + dest))
    if not ctx.one_direction or is_main != 1:
        ctx.result.symmetric.append((dest, sym_uri, source))


# ---------------------------------------------------------------- descriptions

def description_type_needs_lang(dtype: str) -> str | None:
    if dtype in ("incipit", "colophon", "colopho", "colophn", "colophone"):
        return EWTS
    if dtype in ("authorship", "summary", "content", "remarks", "contents"):
        return "en"
    return None


_DESC_URI = {
    # CommonMigration.getDescriptionUriFromType:627-709 (normalized keys)
    "authorship": BDO + "authorshipStatement",
    "incipit": BDO + "incipit",
    "note": BDO + "note",
    "notes": BDO + "note",
    "chapter": BDO + "work_desc_chapters",
    "chapters": BDO + "work_desc_chapters",
    "content": BDO + "catalogInfo",
    "contents": BDO + "catalogInfo",
    "completionDate": BDO + "work_desc_completionDate",
    "date": ADM + "work_desc_date",
    "errata": BDO + "instanceErrata",
    "extent": BDO + "extentStatement",
    "id": "__fpl",
    "libraryOfCongress": BDO + "work_desc_libraryOfCongress",
    "location": BDO + "contentLocationStatement",
    "room": "__fpl",
    "gonpaPerEcumen": BDO + "placeGonpaPerEcumen",
    "colopho": BDO + "colophon",
    "colophon": BDO + "colophon",
    "colophn": BDO + "colophon",
    "colophone": BDO + "colophon",
}
for _k in (
    "snar_bstan_number snr_thang_number snar_thang_number".split()
):
    _DESC_URI[_k] = "__id:" + BDR + "KaTenSiglaN"
for _k in (
    "gser_bris_numbr gser_birs_number gse_bris_number sger_bris_number "
    "gser_bri_numer gser_dris_number gser_bri_number gser_bris_nimber gser_bris_number".split()
):
    _DESC_URI[_k] = "__id:" + BDR + "KaTenSiglaG"
for _k in "sde_gde_number de_dge_number sdg_dge_number sdr_dge_number sde_dge_number toh_number toh".split():
    _DESC_URI[_k] = "__id:" + BDR + "KaTenSiglaD"
_DESC_URI["lhasa_number"] = "__id:" + BDR + "KaTenSiglaH"
for _k in "stog_numbe stog_unmber stog_number stogNumber".split():
    _DESC_URI[_k] = "__id:" + BDR + "KaTenSiglaS"
for _k in "otani_number otani otani_beijing".split():
    _DESC_URI[_k] = "__id:" + BDR + "KaTenSiglaQ"
for _k in "sheyNumber shey_number".split():
    _DESC_URI[_k] = "__id:" + BDR + "KaTenSiglaZ"
_DESC_URI["rKTsReference"] = "__id:" + BDR + "RefrKTsK"
_DESC_URI["bon_bka_gyur_number"] = "__id:" + BDR + "KaTenSiglaBon"
_DESC_URI["urga_number"] = "__id:" + BDR + "KaTenSiglaU"
_DESC_URI["isIAO"] = "__id:" + BDR + "RefIsIAO"
_DESC_URI["catalogue_number"] = "__id:" + BDR + "RefChokLing"
_DESC_IGNORE = frozenset(
    "nameLex nameKR gbdist town_syl town_py town_ch prov_py gonpaPer1000 "
    "dist_py ondisk onDisk dld icon text dpl480 featured".split()
)

FPL_LIBRARY_ID = "G1TLMFPL000001"


def get_description_uri(dtype: str, is_biblio: bool) -> str | None:
    res = normalize_prop_name(dtype)
    if res in ("noType", "status"):
        return BDO + "biblioNote" if is_biblio else RDFS + "comment"
    if res in ("remarks",):
        return BDO + "biblioNote" if is_biblio else RDFS + "comment"
    if res == "summary":
        return BDO + "catalogInfo" if is_biblio else RDFS + "comment"
    if res in _DESC_IGNORE:
        return "__ignore"
    return _DESC_URI.get(res)


def normalize_prop_name(s: str, target_type: str = "description") -> str:
    res = s.strip().replace("'", "").replace(" ", "_")
    if not res:
        return res
    if target_type == "Class":
        return res[0].upper() + res[1:]
    return res[0].lower() + res[1:]


FACET_MICROFILM = ("MF", BDR)
FACET_DATE_INDICATION = ("DI", BDR)

_ERA = {"beDate": ("EraBE", -543), "ceDate": ("EraCE", 0), "csDate": ("EraCS", 638)}


def _find_or_make_microfilm(em: Emitter, rez: str) -> str:
    for k in em.triples:
        if k[0] == rez and k[1] == BDO + "microfilmItem" and k[2] == "iri":
            return k[3]
    mf = em.facet_node(FACET_MICROFILM, BDO + "ItemMicrofilmAsset")
    em.add(rez, BDO + "microfilmItem", iri(mf))
    return mf


def _do_femc_desc(ctx: Ctx, em: Emitter, rez: str, dtype: str, value: str, main_a) -> bool:
    """CommonMigration.doFEMCDesc:1227-1334 — FEMC-specific description
    types (era dates C23, manuscript codes, microfilm, catalog pages)."""
    if "FEMC" not in _local(rez):
        return False
    if dtype in _ERA:
        if main_a is not None:
            em_a, a_iri = main_a
            try:
                yr = int(value)
            except ValueError:
                return True
            event = get_event(em_a, a_iri, "CompletedEvent", "workEvent", reuse=True)
            date_ind = em_a.facet_node(FACET_DATE_INDICATION)
            era, off = _ERA[dtype]
            em_a.add(event, BDO + "dateIndication", iri(date_ind))
            em_a.add(date_ind, BDO + "era", iri(BDR + era))
            em_a.add(date_ind, BDO + "yearInEra", integer(yr))
            if off == 0:
                em_a.add(event, BDO + "onYear", ("lit", "%04d" % yr, None, XSD + "gYear"))
            else:
                nb = yr + off - 1 if off > 0 else yr + off
                na = yr + off if off > 0 else yr + off + 1
                em_a.add(event, BDO + "notBefore", ("lit", "%04d" % nb, None, XSD + "gYear"))
                em_a.add(event, BDO + "notAfter", ("lit", "%04d" % na, None, XSD + "gYear"))
        return True
    if dtype == "oldCodes":
        em.add(rez, BDO + "workKDPPOldId", lit(value))
        return True
    if dtype == "femcManuscriptCode":
        add_identifier(em, rez, BDR + "FEMCManuscriptCode", T.normalize_string(value))
        return True
    if dtype == "filmCanister":
        mf = _find_or_make_microfilm(em, rez)
        em.add(mf, BDO + "microfilmCanister", lit(value))
        return True
    if dtype == "filmStrip":
        mf = _find_or_make_microfilm(em, rez)
        em.add(mf, BDO + "microfilmStrip", lit(value))
        return True
    if dtype == "catalogPage":
        note = None
        for k in list(em.triples):
            if k[0] == rez and k[1] == BDO + "note" and k[2] == "iri":
                cand = k[3]
                for k2 in list(em.triples):
                    if k2[0] == cand and k2[1] == BDO + "noteText" and k2[3].startswith("Catalog"):
                        note = cand
                        em.remove(cand, BDO + "noteText", (k2[2], k2[3], k2[4], k2[5]))
                        break
                if note:
                    break
        if note is None:
            note = em.facet_node(FACET_NOTE, BDO + "Note")
            em.add(note, BDO + "noteText", lit("Catalog"))
            em.add(rez, BDO + "note", iri(note))
        em.add(note, BDO + "contentLocationStatement", lit("pg. " + value))
        return True
    if dtype == "complete":
        em.add(rez, BDO + "isComplete", boolean(value != "false"))
        return True
    if dtype == "fascicles":
        em.add(rez, BDO + "hasFascicles", lit(value))
        return False
    return False


def add_identifier(em: Emitter, rez: str, type_uri: str, value: str) -> None:
    node = em.facet_node(FACET_IDENTIFIER, type_uri)
    em.add(rez, BF + "identifiedBy", iri(node))
    em.add(node, RDF_VALUE, lit(value))


def add_descriptions(
    ctx: Ctx,
    em: Emitter,
    root: ET.Element,
    rez: str,
    ns: str,
    guess_label: bool = False,
    main_a: tuple | None = None,  # (emitter, iri) of the abstract-work graph
):
    """CommonMigration.addDescriptions:1344-1492 (FPL item branch included;
    FEMC branch lives in the work migrator).  Returns the FPL item emitter
    when one was created."""
    label_done: dict[str, bool] = {}
    fpl_em = None
    fpl_item = None
    fpl_id = None
    fpl_room = None
    fpl_desc = None
    rez_local = _local(rez)
    for current in children(root, ns, "description"):
        value = text_of(current).strip()
        if not value:
            continue
        dtype = attr(current, "type").strip() or "noType"
        if _do_femc_desc(ctx, em, rez, dtype, value, main_a):
            continue
        langhint = description_type_needs_lang(dtype)
        if langhint is not None or (guess_label and dtype == "noType"):
            lv = get_literal(ctx, current, langhint or "en", "description", rez_local, rez_local)
            if lv is None:
                continue
        else:
            if dtype == "noType":
                lv = get_literal(ctx, current, "en", "description", rez_local, rez_local)
            else:
                lv = (T.normalize_string(value), None)
        if lv is None:
            continue
        if dtype == "note":
            node = em.facet_node(FACET_NOTE, BDO + "Note")
            em.add(rez, BDO + "note", iri(node))
            em.add(node, BDO + "noteText", lit(lv[0], lv[1]))
            continue
        if dtype in ("completionDate", "date"):
            event = get_event(em, rez, "CompletedEvent", "workEvent", reuse=True)
            add_dates(em, value, event)
            continue
        is_biblio = rez_local[0] in "WMI"
        prop_uri = get_description_uri(dtype, is_biblio)
        if prop_uri == "__ignore":
            continue
        if prop_uri is None:
            ctx.error("desc", rez_local, rez_local, "description",
                      "unhandled description type: " + dtype)
            if not guess_label:
                continue
        if prop_uri is not None and prop_uri.startswith("__id"):
            add_identifier(em, rez, prop_uri[5:], T.normalize_string(value))
            continue
        if prop_uri == "__fpl":
            if fpl_item is None:
                fpl_local = "IT" + rez_local[1:]
                # splitItems=false (WorkMigration.java:464-468) merges the
                # item model into the work's own graph
                fpl_em = Emitter(graph=fpl_local) if ctx.split_items else em
                fpl_item = BDR + fpl_local
                adm = create_admin_root(fpl_em, fpl_item)
                fpl_em.add(fpl_item, BDO + "itemForInstance", iri(rez))
                if not ctx.one_direction:
                    em.add(rez, BDO + "instanceHasItem", iri(fpl_item))
                add_released(fpl_em, adm)
                fpl_em.add(fpl_item, RDF_TYPE, iri(BDO + "Item"))
                fpl_em.add(fpl_item, BDO + "itemLibrary", iri(BDR + FPL_LIBRARY_ID))
            if dtype == "id":
                fpl_id = value
                if fpl_room is not None:
                    fpl_em.add(fpl_item, BDO + "itemShelf", lit(fpl_room + "|" + fpl_id))
            elif dtype == "room":
                fpl_room = value
                if fpl_id is not None:
                    fpl_em.add(fpl_item, BDO + "itemShelf", lit(fpl_room + "|" + fpl_id))
            elif dtype == "remarks":
                fpl_desc = value if fpl_desc is None else fpl_desc + "\n" + value
            continue
        if guess_label and dtype in ("contents", "noType"):
            lang2 = (lv[1] or "en")[:2]
            if lang2 not in label_done:
                em.add(rez, SKOS + "prefLabel", lit(lv[0], lv[1]))
                label_done[lang2] = True
            else:
                em.add(rez, SKOS + "altLabel", lit(lv[0], lv[1]))
            continue
        if prop_uri == BDO + "catalogInfo":
            # catalogInfo lands on the abstract work only; dropped when
            # there is none (CommonMigration.java:1463-1468)
            if main_a is not None:
                main_a[0].add(main_a[1], prop_uri, lit(lv[0], lv[1]))
        elif prop_uri is not None:
            em.add(rez, prop_uri, lit(lv[0], lv[1]))
    if (fpl_id is None) != (fpl_room is None):
        ctx.error("gen", rez_local, rez_local, "description",
                  "types `id` and `room` should both be present")
        if fpl_item is not None:
            shelf = (fpl_room or "") + "|" + (fpl_id or "")
            fpl_em.add(fpl_item, BDO + "itemShelf", lit(shelf))
    if fpl_desc is not None:
        em.add(rez, BDO + "biblioNote", lit(fpl_desc, "en"))
    # merged-item mode returns None: the triples already live in `em`,
    # so callers must not append the same emitter a second time
    return fpl_em if fpl_em is not em else None


# ---------------------------------------------------------------- titles

_TITLE_DIRECT = frozenset(
    "titlePageTitle fullTitle subtitle runningTitle colophonTitle coverTitle "
    "incipitTitle halfTitle otherTitle spineTitle copyrightPageTitle".split()
)


def get_node_type(ctx: Ctx, em: Emitter, dtype: str, outline_mode: bool) -> str:
    """CommonMigration.getNodeType:1492-1528 — title type -> node class."""
    if dtype in _TITLE_DIRECT:
        return BDO + dtype[0].upper() + dtype[1:]
    if dtype == "dkarChagTitle":
        return BDO + "ToCTitle"
    if dtype in ("sectionTitle", "captionTitle"):
        return BDO + ("RunningTitle" if outline_mode else "OtherTitle")
    if dtype == "portion":
        return BDO + "TitlePortion"
    if dtype == "incipit":
        return BDO + "IncipitTitle"
    if dtype == "bibliographicalTitle":
        return BDO + "Title"
    ctx.error("gen", em.graph, em.graph, "title", f"unknown title type `{dtype}`")
    return BDO + "Title"


def abstract_title_value(value: str, tag: str) -> tuple[str, str]:
    """CommonMigration.abstractTitle:1672-1696 (bo-x-ewts only)."""
    import re

    if tag != EWTS:
        return value, tag
    s = value.strip()
    s = re.sub(r"^[\(（][^\)）༽]+[\)）༽]", "", s)
    s = re.sub(r" bzhugs so ?/?$", "", s)
    s = re.sub(r"^[^ ]+\)[_ ]?", "", s)
    s = re.sub(r' *" *', "", s)
    s = re.sub(r"^_+", "", s)
    idx = max(s.rfind("("), s.rfind("（"))
    if idx != -1:
        toremove = s[idx:]
        if any(k in toremove for k in ("par ma", "dpe bsdur", "glog klad", "bris ma")):
            s = s[:idx]
    return L.add_ewts_shad(s.strip()), tag


def _get_femc_lit(title: ET.Element) -> tuple[str, str]:
    """CommonMigration.getFEMCLit:1530-1553."""
    value = text_of(title)
    lang = attr(title, "lang")
    dtype = attr(title, "type")
    roman = "roman" in dtype
    tag = "km-x-unspec"
    if lang == "khmer":
        tag = "km-x-twktt" if roman else "km"
    elif lang == "pāli":
        tag = "pi-x-twktt" if roman else "pi-khmr"
    return value, tag


def _add_femc_title(ctx: Ctx, em: Emitter, main: str, title: ET.Element, dtype: str, add_pref: bool):
    value, tag = _get_femc_lit(title)
    node_type = get_node_type(ctx, em, dtype, False)
    node = em.facet_node(FACET_TITLE, node_type)
    em.add(node, RDFS + "label", lit(value, tag))
    em.add(main, BDO + "hasTitle", iri(node))
    if add_pref:
        em.add(main, SKOS + "prefLabel", lit(value, tag))
    return node


def _add_femc_titles(ctx: Ctx, em: Emitter, main: str, nodes: list, main_a) -> bool:
    """CommonMigration.addFEMCTitles:1555-1668."""
    rid = _local(main)
    if "FEMC" not in rid or rid in ("W1FEMC01", "W1FEMC02"):
        return False
    by_type: dict[str, ET.Element] = {}
    for current in nodes:
        t = attr(current, "type")
        if t:
            by_type[t] = current
    khmer_std = by_type.get("khmerStandard")
    roman_std = by_type.get("romanStandard")
    khmer_cor = by_type.get("khmerCorrectedOriginal")
    roman_cor = by_type.get("romanCorrectedOriginal")
    khmer_org = by_type.get("khmerOriginal")
    roman_org = by_type.get("romanOriginal")
    biblio_khmer = False
    biblio_roman = False
    cor_khm = cor_rom = org_khm = org_rom = None
    if khmer_std is not None:
        if roman_std is not None and text_of(roman_std) == "das jātak":
            _add_femc_title(ctx, em, main, khmer_std, "otherTitle", False)
        else:
            biblio_khmer = True
            _add_femc_title(ctx, em, main, khmer_std, "bibliographicalTitle", True)
    if roman_std is not None:
        if text_of(roman_std) == "das jātak":
            _add_femc_title(ctx, em, main, khmer_std, "otherTitle", False)
        else:
            biblio_roman = True
            _add_femc_title(ctx, em, main, roman_std, "bibliographicalTitle", True)
    if khmer_cor is not None:
        cor_khm = _add_femc_title(ctx, em, main, khmer_cor,
                                  "coverTitle" if biblio_khmer else "bibliographicalTitle",
                                  not biblio_khmer)
        biblio_khmer = True
    if roman_cor is not None:
        cor_rom = _add_femc_title(ctx, em, main, roman_cor,
                                  "coverTitle" if biblio_roman else "bibliographicalTitle",
                                  not biblio_roman)
        biblio_roman = True
    if khmer_org is not None:
        org_khm = _add_femc_title(ctx, em, main, khmer_org,
                                  "coverTitle" if biblio_khmer else "bibliographicalTitle",
                                  not biblio_khmer)
        biblio_khmer = True
    if roman_org is not None:
        org_rom = _add_femc_title(ctx, em, main, roman_org,
                                  "coverTitle" if biblio_roman else "bibliographicalTitle",
                                  not biblio_roman)
        biblio_roman = True
    if cor_khm and org_khm:
        em.add(cor_khm, BDO + "femcConversionOf", iri(org_khm))
    if cor_rom and org_rom:
        em.add(cor_rom, BDO + "femcConversionOf", iri(org_rom))
    return True


def add_titles(
    ctx: Ctx,
    root: ET.Element,
    ns: str,
    main: tuple | None,  # (Emitter, iri) of the instance graph
    main_a: tuple | None,  # (Emitter, iri) of the abstract-work graph
    guess_label: bool = True,
    outline_mode: bool = False,
) -> None:
    """CommonMigration.addTitles:1698-1803 — title facets + A2 label split
    between instance (prefLabel) and abstract work (prefLabel/altLabel via
    abstractTitle)."""
    nodes = children(root, ns, "title")
    if main is not None and _add_femc_titles(ctx, main[0], main[1], nodes, main_a):
        return
    label_done: dict[str, bool] = {}
    title_seen: dict[str, bool] = {}
    for i, current in enumerate(nodes):
        local_rid = _local(main[1]) if main is not None else _local(main_a[1])
        lv = get_literal(ctx, current, EWTS, "title", local_rid, local_rid)
        if lv is None:
            continue
        value, tag = lv
        next_titles: list[str] = []
        if main is not None and "FPL" in local_rid and tag == "pi-x-iast" and "--" in value:
            split = value.split("--")
            extra = [s for s in split[1:] if s]
            if extra:
                next_titles = extra
                value = split[0]
        lit_key = value + "@" + tag
        if lit_key in title_seen:
            continue
        title_seen[lit_key] = True
        dtype = attr(current, "type") or "bibliographicalTitle"
        if dtype == "incipit" and main is not None:
            main[0].add(main[1], BDO + "incipit", lit(value, tag))
            continue
        if main is not None:
            em, mn = main
            node_type = get_node_type(ctx, em, dtype, outline_mode)
            node = em.facet_node(FACET_TITLE, node_type)
            em.add(node, RDFS + "label", lit(value, tag))
            em.add(mn, BDO + "hasTitle", iri(node))
            for nt in next_titles:
                node = em.facet_node(FACET_TITLE, node_type)
                em.add(node, RDFS + "label", lit(nt, "pi-x-iast"))
                em.add(mn, BDO + "hasTitle", iri(node))
        if main_a is not None and len(nodes) > 1:
            if guess_label:
                lang2 = tag[:2]
                if lang2 not in label_done:
                    if main is not None:
                        main[0].add(main[1], SKOS + "prefLabel", lit(value, tag))
                    av, atag = abstract_title_value(value, tag)
                    main_a[0].add(main_a[1], SKOS + "prefLabel", lit(av, atag))
                    label_done[lang2] = True
                else:
                    main_a[0].add(main_a[1], SKOS + "altLabel", lit(value, tag))
            continue
        if guess_label:
            lang2 = tag[:2]
            if lang2 not in label_done:
                if main is not None:
                    main[0].add(main[1], SKOS + "prefLabel", lit(value, tag))
                if main_a is not None:
                    av, atag = abstract_title_value(value, tag)
                    main_a[0].add(main_a[1], SKOS + "prefLabel", lit(av, atag))
                label_done[lang2] = True
            elif main_a is not None:
                av, atag = abstract_title_value(value, tag)
                main_a[0].add(main_a[1], SKOS + "altLabel", lit(av, atag))


# ---------------------------------------------------------------- subjects

_COMMENTARY_TOPICS = frozenset(
    "T304 T3JT5054 T61 T4JW5424 T10MS12837 T132 T1488 T1491 T2397".split()
)
_LANG_TOPICS = frozenset(("T3CN1331", "T2411", "T3CN2027"))


def add_subjects(ctx: Ctx, em: Emitter | None, main: str, root: ET.Element, ns: str):
    """CommonMigration.addSubjects:1831-1900 (J5-adjacent W->WA hop).

    With em=None returns ["prop-rid", ...] instead of emitting (the
    outline's worktopics hand-off, A6)."""
    needs_commentary = False
    has_commentary = False
    res: list[str] | None = None
    for current in children(root, ns, "subject"):
        rid = attr(current, "class").strip()
        if not rid:
            continue
        if rid in _COMMENTARY_TOPICS:
            has_commentary = True
        if rid in _LANG_TOPICS:
            continue
        value = attr(current, "type").strip()
        if value == "isCommentaryOn":
            needs_commentary = True
        prop_lname = "workGenre" if rid in ctx.auth.genre_topics else "workIsAbout"
        rid = ctx.auth.sanitize_rid(rid)
        if ctx.auth.is_disconnected(rid):
            continue
        if rid.startswith("W") and not rid.startswith("WA"):
            rid = "WA" + rid[1:]
            other = ctx.auth.clusters.get(rid)
            if other is not None:
                rid = other
        if em is None:
            res = res or []
            res.append(prop_lname + "-" + rid)
        else:
            em.add(main, BDO + prop_lname, iri(BDR + rid))
    if needs_commentary and not has_commentary:
        if em is None:
            res = res or []
            res.append("workGenre-T132")
        else:
            em.add(main, BDO + "workGenre", iri(BDR + "T132"))
    return res


# ---------------------------------------------------------------- creators

CREATOR_FOR_INSTANCE = frozenset(("hasCalligrapher", "hasScribe", "hasEditor"))


def creator_role_uri(ctx: Ctx, role_key: str) -> str:
    """CommonMigration.getCreatorRoleUri:245-248 (creator-migrations.txt)."""
    if role_key.startswith("has"):
        role_key = role_key[3:]
    return BDR + ctx.auth.creator_roles.get(role_key, "R0ER0019")


def add_agent_as_creator(
    ctx: Ctx,
    main: tuple | None,  # (Emitter, iri) instance
    person: str,  # bdr IRI
    role_key: str,
    main_a: tuple | None,  # (Emitter, iri) abstract work
) -> None:
    """CommonMigration.addAgentAsCreator:261-283."""
    if person.endswith("/P7326"):
        return
    creator_node = None
    if main_a is not None and role_key not in CREATOR_FOR_INSTANCE:
        em, target = main_a
    elif main is not None and role_key in CREATOR_FOR_INSTANCE:
        em, target = main
    else:
        return
    creator_node = em.facet_node(FACET_CREATOR, BDO + "AgentAsCreator")
    em.add(target, BDO + "creator", iri(creator_node))
    em.add(creator_node, BDO + "agent", iri(person))
    em.add(creator_node, BDO + "role", iri(creator_role_uri(ctx, role_key)))


# ---------------------------------------------------------------- locations


def _add_location_int_or_string(ctx: Ctx, em: Emitter, main: str, loc: str,
                                current: ET.Element, attribute: str, propname: str,
                                do_not_add_if_equals: int | None) -> int:
    """CommonMigration.addLocationIntOrString:1903-1924."""
    import re

    value = re.sub(r",$", "", attr(current, attribute)).strip()
    res = -1
    if value:
        try:
            intval = int(value)
            if intval < 1:
                ctx.error("gen", _local(main), _local(main), "location",
                          f"`{propname}` must be a positive integer, got `{value}`")
                em.add(loc, BDO + propname, lit(value))
            else:
                if do_not_add_if_equals is None or intval != do_not_add_if_equals:
                    em.add(loc, BDO + propname, integer(intval))
                res = intval
        except ValueError:
            ctx.error("gen", _local(main), _local(main), "location",
                      f"`{propname}` must be a positive integer, got `{value}`")
            em.add(loc, BDO + propname, lit(value))
    return res


def add_locations(ctx: Ctx, em: Emitter, main: str, root: ET.Element, ns: str,
                  work_id: str, outline_id: str, outline_node: str,
                  outline_node_title: str | None):
    """CommonMigration.addLocations:1950-2037 -> (beginVol, beginPage,
    endVol, endPage) or None."""
    nodes = children(root, ns, "location")
    if not nodes:
        return None
    volume1 = -1
    page1 = -1
    page2 = -1
    loc = em.facet_node(FACET_CONTENT_LOC, BDO + "ContentLocation")
    loc_has_props = False
    res = None
    for i, current in enumerate(nodes):
        if i > 1:
            ctx.error("outline", work_id, outline_node, "location",
                      f'title: "{outline_node_title}" too many locations, it should only have 2')
            break
        if i == 0 and attr(current, "type") == "folio":
            em.add(loc, BDO + "contentLocationByFolio", boolean(True))
            loc_has_props = True
        value = attr(current, "work").strip()
        if not work_id:
            if value:
                em.add(loc, BDO + "contentLocationInstance", iri(BDR + value))
                loc_has_props = True
        elif value and value != work_id:
            ctx.error("outline", work_id, outline_node, "location",
                      f'title: "{outline_node_title}" has locations in work {value} instead of {work_id}')
        end = "" if i == 0 else "End"
        volume = _add_location_int_or_string(
            ctx, em, main, loc, current, "vol", "contentLocation" + end + "Volume", volume1 if i else None
        )
        if volume != -1:
            loc_has_props = loc_has_props or (i == 0 or volume != volume1)
        if i == 0:
            volume1 = volume
        if i == 1 and volume != -1 and volume1 != -1 and volume < volume1:
            ctx.error("outline", work_id, outline_node, "location",
                      f'title: "{outline_node_title}", end location volume is before beginning location volume')
        page = _add_location_int_or_string(
            ctx, em, main, loc, current, "page", "contentLocation" + end + "Page", None
        )
        if page != -1:
            loc_has_props = True
        if i == 0:
            page1 = page
        else:
            page2 = page
        if i == 1 and page != -1 and page1 != -1 and page < page1 and volume == volume1:
            ctx.error("outline", work_id, outline_node, "location",
                      f'title: "{outline_node_title}", end location page is before beginning location')
        if _add_location_int_or_string(ctx, em, main, loc, current, "phrase",
                                       "contentLocation" + end + "Phrase", None) != -1:
            loc_has_props = True
        if _add_location_int_or_string(ctx, em, main, loc, current, "line",
                                       "contentLocation" + end + "Line", None) != -1:
            loc_has_props = True
        if i == 1 and page != -1:
            res = (volume1, page1, volume, page)
        value = attr(current, "side")
        if value:
            em.add(loc, BDO + "contentLocation" + end + "Side", lit(value))
            loc_has_props = True

    # the reference's emptiness check (java:2020-2030) is vacuous: the
    # facet node always carries its rdf:type statement, so the location
    # link is always added
    em.add(main, BDO + "contentLocation", iri(loc))
    if work_id:
        em.add(loc, BDO + "contentLocationInstance", iri(BDR + work_id))

    if volume1 == -1 and (page1 == -1 or page2 == -1):
        ctx.error("outline", work_id, outline_node, "location",
                  f'title: "{outline_node_title}", missing volume, beginpage or endpage')
    elif volume1 != -1 and (page1 == -1 or page2 == -1):
        ctx.error("outline", work_id, outline_node, "location",
                  f'title: "{outline_node_title}", vol. {volume1}, missing beginpage or endpage')
    return res
