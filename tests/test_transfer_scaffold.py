"""Characterization of the CSV transfers (S5) on hand-written lines.

The golden one-line fixtures live in the reference checkout, so
`test_kg_transfers.py::test_transfer_parity` skips without it.  These
cases need nothing outside the repo: each transfer gets one line with an
empty rKTs column (a new abstract work is minted) and one with a
`K<digits>` id (the existing `WA0RKI<digits>` is linked), and the EAP
fonds transfer gets one fonds with a `seriesc` series of two files and a
plain series of one file, once with the empty authority and once with a
duplicate-cluster entry for the `seriesc` abstract work.  Every case runs
with both values of `Ctx.one_direction`.

Each case pins a sha256 over the emitted graphs in sorted order, each
with its sorted triples, plus the sorted queued symmetric rows.
"""

from __future__ import annotations

import hashlib
import importlib

import pytest

from xmltoldmigration_spark.kg.authority import Authority
from xmltoldmigration_spark.kg.common import Ctx
from xmltoldmigration_spark.kg.model import BDO, BDR


def _pad(n: int, **cols) -> list[str]:
    line = [""] * n
    for k, v in cols.items():
        line[int(k[1:])] = v
    return line


LINES = {
    "eap": {
        "new": _pad(18, c0="12345", c2="EAP676/1/1", c3="1750", c4="1760",
                    c5="san;new", c6="Newa", c7="MDARK-1", c8="Palm-leaf manuscript",
                    c9="30.5", c10="5.2", c12="Pañcarakṣā", c13="NS 870",
                    c16="T123,T456", c17="T789"),
        "rkts": _pad(18, c0="12346", c2="EAP676/1/2", c3="1801", c4="1801",
                     c5="tib", c6="Beng", c7="MDARK-2", c8="Paper manuscript",
                     c12="Collected hymns@en", c15="K16", c16="T123"),
    },
    "nsi": {
        "new": _pad(20, c1="W1NLM1234", c2="I1NLM1234_001", c4="Pañcarakṣā",
                    c6="Manuscript", c7="T123 & T456", c8="Kathmandu", c9="Sanskrit",
                    c10="Pracalita", c13="NS 870", c14="1750 CE", c15="30.5 cm",
                    c16="8 cm", c17="Yellow Paper"),
        "rkts": _pad(20, c1="W1NLM1235", c2="I1NLM1235_001", c4="Unidentified",
                     c6="Manuscript", c8="Patan", c9="Sanskrit", c10="Ranjana",
                     c14="undated", c17="Bound Mss.", c19="K17"),
    },
    "hodgson": {
        "new": _pad(11, c0="HOD0001", c1="hodgson_0001", c2="Prajñāpāramitā",
                    c3="Aṣṭasāhasrikā", c6="T100", c7="T200", c8="evaṃ mayā śrutam",
                    c9="iti", c10="Folio 3 damaged"),
        "rkts": _pad(11, c0="HOD0002", c1="hodgson_0002", c2="Kāraṇḍavyūha",
                     c5="K18", c6="T101"),
    },
    "cudl": {
        "new": _pad(20, c0="MS-ADD-01234", c1="Add. 1234", c3="Pañcarakṣā",
                    c5="T300", c6="Mahāpratisarā", c7="alt one,alt two",
                    c8="https://cudl.lib.cam.ac.uk/iiif/MS-ADD-01234",
                    c9="palm_leaf", c10="1100", c11="1200", c14="Devanāgarī",
                    c18="5,5", c19="30,2"),
        "rkts": _pad(20, c0="MS-ADD-01235", c1="Add. 1235", c3="Hymns@en",
                     c4="K19", c6="Hymns@en", c7="alt three",
                     c8="https://cudl.lib.cam.ac.uk/iiif/MS-ADD-01235",
                     c9="black_paper", c14="Rañjanā"),
    },
    "gretil": {
        "new": _pad(11, c0="IEGR0001", c1="Heart Sutra", c3="Prajñāpāramitāhṛdaya",
                    c6="T500", c8="1_sanskr/4_rellit/buddh/hrdaya.htm",
                    c9="Input person", c10="Based on edition"),
        "rkts": _pad(11, c0="IEGR0002", c1="Diamond Sutra", c2="K20",
                     c3="Vajracchedikā", c6="X500"),
        # an rKTs list: the uncut field reaches rkts_to_bdr, so a
        # new abstract work is minted instead of WA0RKI16
        "rkts_list": _pad(11, c0="IEGR0003", c1="Lotus Sutra", c2="K16,K17",
                          c3="Saddharmapuṇḍarīka"),
    },
}

FONDS_LINES = [
    _pad(14, c0="fonds", c1="EAP999", c9="Fonds title@en"),
    _pad(14, c0="seriesc", c1="EAP999/1", c3="1800", c4="1850", c9="Series one",
         c10="note a", c11=" b", c12=" c", c13="G123"),
    _pad(14, c0="file", c1="EAP999/1/1", c9="ཀ་ཁ"),
    _pad(14, c0="file", c1="EAP999/1/2", c9="File two@en"),
    _pad(14, c0="series", c1="EAP999/2", c3="1900", c4="1900", c9="Series two"),
    _pad(14, c0="file", c1="EAP999/2/1", c9="Plain file", c10="file note"),
]
FONDS_AUTH = {
    "empty": Authority(),
    "cluster": Authority(clusters={"WAEAP999-1": "WA0XYZ1"}),
}

DIGESTS = {
    ("cudl", "new", False):
        "626f2c017e25c3464d3fb6167800f6be6731f5da7c47548037d4ac8088b0fbec",
    ("cudl", "new", True):
        "a81a0cb716f5398019f3fb0e71d4c17b72f4fbd7a07d413cceb8e95d3659adca",
    ("cudl", "rkts", False):
        "00d886f24406a6812cf4f1506e619fe465700e0045d0ba2cb6d7f462734b68fb",
    ("cudl", "rkts", True):
        "42e83d26c67d503c399137d2f061b290c4a866d8086891742ddcd9bedf969080",
    ("eap", "new", False):
        "3fca726cdfd3f60da2fb460440f83fe3d831c27b55c33c67dbeb357c9ef49696",
    ("eap", "new", True):
        "8ae17ab6ad71b6c4d1665dbd60d7b54d0118b2de70a72cebb60d29f161756f15",
    ("eap", "rkts", False):
        "494bd9388d9aa5574748e79a2c138dfa365111637e2e78aa9fe7acc9df4333a0",
    ("eap", "rkts", True):
        "a1dc90da6798fe861183459f62b5a257e246fe91b502e8b979c22858a8b25862",
    ("gretil", "new", False):
        "447597036afb9422debcebd2c6ab7ad52e0f15c67582941a005e2e32f8d0b14c",
    ("gretil", "new", True):
        "447597036afb9422debcebd2c6ab7ad52e0f15c67582941a005e2e32f8d0b14c",
    ("gretil", "rkts", False):
        "83b727247e58d810fe026a0e35931b15ed1716c0b49fd1bb22810dbc0192a29b",
    ("gretil", "rkts", True):
        "9681700bb718a193ca643b589e712e80ff3efaa9bad8cf7bfa659b7ae130f121",
    ("gretil", "rkts_list", False):
        "c1efeb13a0c40f81e884b276ea728805f5a50bb78cbbf5d36217b3ab7dd97b92",
    ("gretil", "rkts_list", True):
        "c1efeb13a0c40f81e884b276ea728805f5a50bb78cbbf5d36217b3ab7dd97b92",
    ("hodgson", "new", False):
        "d567bcb5120f5a990336382e24b6bf7b48a795c0b70225cc65ff80620153b35d",
    ("hodgson", "new", True):
        "d67e5eb54f2a83769196764ea5e6ff33f851aa9cadd3dbb711a56c9ebacaabab",
    ("hodgson", "rkts", False):
        "15115bd3b9fa0f82a1f704d49cd468f64b36712e5cab7b592d018642157dcb5d",
    ("hodgson", "rkts", True):
        "d227f37baf17f3146a0d49c35fa08220f7cd4f87bdb06825875dd78c542c8d05",
    ("nsi", "new", False):
        "750b7b14b5c550d7eca1f43863d763a65ea3bda66c3c64a22fb779735667f834",
    ("nsi", "new", True):
        "d95118e5467b96b472c3b3889b5cc942d1e37ca0dfec518dd3ff2931c159e58d",
    ("nsi", "rkts", False):
        "983c08927d9e932d1ef530a4f33c2edea3483195c6b5474b565c6fde84319f3d",
    ("nsi", "rkts", True):
        "72176a15d9b22da4d4c0c0ea01967d0beb8791621064c85ff080911601cb8014",
    ("eapfonds", "cluster", False):
        "e6a86ed65426748d85171111e6773f986a1c5b5a518b7fabb045dc23cd45791d",
    ("eapfonds", "cluster", True):
        "9daeef3077bb09e3ddd581b58bffdb080b26fa1ef981db44e7ac2bc55abc01af",
    ("eapfonds", "empty", False):
        "f707816e8a50b226dbff20edf9d4776a8fac33b84c6e16dcc854d3bbe76d988f",
    ("eapfonds", "empty", True):
        "f707816e8a50b226dbff20edf9d4776a8fac33b84c6e16dcc854d3bbe76d988f",
}

CASES = [(m, k) for m in sorted(LINES) for k in sorted(LINES[m])]
CASES += [("eapfonds", k) for k in sorted(FONDS_AUTH)]


def _digest(emitters, ctx: Ctx) -> str:
    h = hashlib.sha256()
    for em in sorted(emitters, key=lambda e: e.graph):
        h.update(repr((em.graph, sorted(map(repr, em.triples)))).encode())
    h.update(repr(sorted(map(repr, ctx.result.symmetric))).encode())
    return h.hexdigest()


def _run(mod_name: str, kind: str, one_direction: bool):
    mod = importlib.import_module(f"xmltoldmigration_spark.kg.transfers.{mod_name}")
    if mod_name == "eapfonds":
        ctx = Ctx(auth=FONDS_AUTH[kind], one_direction=one_direction)
        return mod.resources_from_lines(FONDS_LINES, ctx, simplified=True), ctx
    ctx = Ctx(auth=Authority(), one_direction=one_direction)
    return mod.resources_from_line(LINES[mod_name][kind], ctx), ctx


@pytest.mark.parametrize("one_direction", [False, True])
@pytest.mark.parametrize("mod_name,kind", CASES)
def test_transfer_output_is_pinned(mod_name, kind, one_direction):
    emitters, ctx = _run(mod_name, kind, one_direction)
    assert emitters and all(em.triples for em in emitters)
    assert _digest(emitters, ctx) == DIGESTS[(mod_name, kind, one_direction)]


def test_abstract_branches_are_exercised():
    """The cases above cover both abstract-work branches: a fresh WA graph
    for an empty rKTs column, a link to WA0RKI<digits> otherwise."""
    for mod_name in ("eap", "nsi", "hodgson", "cudl", "gretil"):
        new, _ = _run(mod_name, "new", False)
        linked, _ = _run(mod_name, "rkts", False)
        assert any(em.graph.startswith("WA") for em in new), mod_name
        assert not any(em.graph.startswith("WA") for em in linked), mod_name
        assert any(
            k[1] == BDO + "instanceOf" and k[3].startswith(BDR + "WA0RKI")
            for em in linked for k in em.triples
        ), mod_name
    (fonds, _), (clustered, _) = (_run("eapfonds", k, False) for k in ("empty", "cluster"))
    assert "WAEAP999-1" in {em.graph for em in fonds}
    assert "WAEAP999-1" not in {em.graph for em in clustered}
