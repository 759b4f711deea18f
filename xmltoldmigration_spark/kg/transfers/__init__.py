"""CSV-record transfer pipelines (SURVEY.md §2.1 S5): one CSV row ->
1-3 entity graphs.  Reference: the top-package *Transfer classes.

Each transfer exposes `resources_from_line(line, ctx) -> list[Emitter]`
(pure Python, pinned by tests/test_transfer_scaffold.py and, with the
reference checkout, against the one-line golden fixtures) plus a Spark
wrapper (`spark.py`) that maps a CSV DataFrame through it.

The part the transfers share is defined here once.  EAP builds an
instance, an optional abstract work and an image instance with its
ImageGroup; CUDL, GRETIL, NSI, Hodgson and EAP fonds are variations:

- `rkts_to_bdr` names the existing abstract work of an rKTs id;
- `abstract_work` links the instance to that work, or mints a new
  released abstract work in its own graph;
- `image_instance` builds the open-access ImageInstance, its AdminData,
  its one ImageGroup (volume 1) and its reproduction and instanceOf links.

Each transfer adds its own quirks after a helper returns.
"""

from __future__ import annotations

from xmltoldmigration_spark.kg import common as C
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import (
    ADM,
    BDA,
    BDO,
    BDR,
    RDF_TYPE,
    Emitter,
    boolean,
    integer,
    iri,
)


def rkts_to_bdr(ctx: Ctx, rkts: str) -> str | None:
    """EAPTransfer.rKTsToBDR:125-142 via abstract-rkts.csv, Indic version
    (every transfer asks for it: K16 -> WA0RKI16)."""
    if not rkts or "?" in rkts:
        return None
    # abstract-rkts.csv maps WA rid -> rKTs id; the transfer needs the
    # inverse keyed on the rKTs id (cached on the Authority object)
    wa = ctx.auth.rkts_to_wa(rkts)
    if wa is not None:
        return wa
    rktsid = rkts[1:]
    if not rktsid.isdigit():
        return None
    prefix = "WA0RK" if rkts.startswith("K") else "WA0RT"
    return prefix + "I" + rktsid


def abstract_work(ctx: Ctx, em: Emitter, inst: str, abstract_rid: str | None,
                  new_rid: str, legal: str, emitters: list):
    """The abstract work of instance `inst` (EAPTransfer's abstract block).

    An existing work `abstract_rid` gets the symmetric instanceOf edge.
    Without one, a released work `new_rid` is minted in its own graph
    (appended to `emitters`), with metadataLegal `legal` and the
    instanceOf / workHasInstance pair.  Returns (rid, em_a, work_a);
    em_a and work_a are None when the work already exists."""
    if abstract_rid is not None:
        C.add_symmetric_property(ctx, em, "instanceOf", inst[len(BDR):], abstract_rid)
        return abstract_rid, None, None
    em_a = Emitter(graph=new_rid)
    work_a = C.create_root(em_a, BDR + new_rid, BDO + "Work")
    adm_a = C.create_admin_root(em_a, work_a)
    C.add_released(em_a, adm_a)
    em_a.add(adm_a, ADM + "metadataLegal", iri(BDA + legal))
    em.add(inst, BDO + "instanceOf", iri(work_a))
    em_a.add(work_a, BDO + "workHasInstance", iri(inst))
    emitters.append(em_a)
    return new_rid, em_a, work_a


def image_instance(ctx: Ctx, em: Emitter, inst: str, abstract: tuple, item_rid: str,
                   volume_rid: str, collection: str, content_legal: str,
                   metadata_legal: str | None, emitters: list):
    """The open-access image instance `item_rid` reproducing `inst`
    (EAPTransfer's image block), in its own graph (appended to `emitters`).

    Its AdminData is released with `content_legal` and, when given,
    `metadata_legal`; its one ImageGroup `volume_rid` is volume 1; it is
    an instance of the `abstract` work that `abstract_work` returned.
    Returns (it_em, item, volume)."""
    abstract_rid, em_a, work_a = abstract
    it_em = Emitter(graph=item_rid)
    item = C.create_root(it_em, BDR + item_rid, BDO + "ImageInstance")
    emitters.append(it_em)
    it_em.add(item, BDO + "inCollection", iri(BDR + collection))
    adm = C.create_admin_root(it_em, item)
    C.add_released(it_em, adm)
    it_em.add(adm, ADM + "access", iri(BDA + "AccessOpen"))
    it_em.add(adm, ADM + "restrictedInChina", boolean(False))
    it_em.add(adm, ADM + "contentLegal", iri(BDA + content_legal))
    if metadata_legal:
        it_em.add(adm, ADM + "metadataLegal", iri(BDA + metadata_legal))

    volume = BDR + volume_rid
    it_em.add(volume, RDF_TYPE, iri(BDO + "ImageGroup"))
    it_em.add(volume, BDO + "volumeOf", iri(item))
    it_em.add(volume, BDO + "volumeNumber", integer(1))
    it_em.add(item, BDO + "instanceReproductionOf", iri(inst))
    if not ctx.one_direction:
        em.add(inst, BDO + "instanceHasReproduction", iri(item))
        it_em.add(item, BDO + "instanceHasVolume", iri(volume))
    if work_a is None:
        C.add_symmetric_property(ctx, it_em, "instanceOf", item_rid, abstract_rid)
    else:
        em_a.add(work_a, BDO + "workHasInstance", iri(item))
        it_em.add(item, BDO + "instanceOf", iri(work_a))
    return it_em, item, volume
