"""Authority / override side-tables (SURVEY.md §1.1, FIXTURES.md §A.3).

The reference preloads ~30 resource CSVs into static HashMaps
(MigrationHelpers.java:171-209); at Spark scale these become broadcast
DataFrames (kg/link.py).  Record-local lookups (sanitizeRID,
isDisconnected) also need them inside the parse UDF, so this module
loads them once per executor as plain dicts — the Python equivalent of a
broadcast variable for a mapInArrow stage.

Tables are read from the reference's resources directory when present
(read-only, they are data inputs, not code) and default to empty so the
engine runs standalone.
"""

from __future__ import annotations

import csv
from dataclasses import dataclass, field

from xmltoldmigration_spark import REFERENCE_ROOT

RESOURCES = REFERENCE_ROOT / "src/main/resources"


def _csv_map(name: str, key_col: int = 0, val_col: int = 1, skip_header: bool = False):
    out: dict[str, str] = {}
    p = RESOURCES / name
    if not p.exists():
        return out
    with open(p, encoding="utf-8") as f:
        rows = csv.reader(f)
        for i, row in enumerate(rows):
            if skip_header and i == 0:
                continue
            if not row or row[0].startswith("#"):
                continue
            if len(row) > max(key_col, val_col):
                out[row[key_col].strip()] = row[val_col].strip()
    return out


def _txt_set(name: str) -> set[str]:
    p = RESOURCES / name
    if not p.exists():
        return set()
    with open(p, encoding="utf-8") as f:
        return {ln.strip() for ln in f if ln.strip() and not ln.startswith("#")}


def _csv_multimap(name: str, key_col: int = 0, val_col: int = 1):
    out: dict[str, list[str]] = {}
    p = RESOURCES / name
    if not p.exists():
        return out
    with open(p, encoding="utf-8") as f:
        for row in csv.reader(f):
            if not row or row[0].startswith("#"):
                continue
            if len(row) > max(key_col, val_col):
                out.setdefault(row[key_col].strip(), []).append(row[val_col].strip())
    return out


@dataclass
class Authority:
    """All record-local authority lookups (one instance per executor)."""

    rid_replacements: dict = field(default_factory=dict)
    disconnected: set = field(default_factory=set)
    ric: set = field(default_factory=set)
    ric_with_outline: set = field(default_factory=set)
    tol: dict = field(default_factory=dict)  # bdrc rid -> ToL URL
    person_traditions: dict = field(default_factory=dict)  # rid -> [tradition]
    clusters: dict = field(default_factory=dict)  # member WA -> canonical WA
    clusters_manual: dict = field(default_factory=dict)  # MW -> canonical WA
    instance_clusters: dict = field(default_factory=dict)  # W -> canonical MW
    series_clusters: dict = field(default_factory=dict)
    remove_w: set = field(default_factory=set)
    nok_for_lending: set = field(default_factory=set)
    copyrighted: set = field(default_factory=set)
    copyright_claimed: set = field(default_factory=set)
    copyright_undetermined: set = field(default_factory=set)
    oclc: dict = field(default_factory=dict)
    abstract_rkts: dict = field(default_factory=dict)
    creator_roles: dict = field(default_factory=dict)  # role key -> R0ER id
    genre_topics: set = field(default_factory=set)  # topic rids tagged workGenre
    trad_chars: set = field(default_factory=set)  # traditional-only CJK chars

    _rkts_to_wa: dict | None = None

    def rkts_to_wa(self, rkts: str):
        """Inverse of abstract-rkts.csv (WA rid -> rKTs id), built once per
        Authority instance instead of per transfer call."""
        if self._rkts_to_wa is None:
            self._rkts_to_wa = {v: k for k, v in self.abstract_rkts.items()}
        return self._rkts_to_wa.get(rkts)

    def sanitize_rid(self, rid: str) -> str:
        """MigrationHelpers.sanitizeRID:456-463 — redirect withdrawn RIDs."""
        return self.rid_replacements.get(rid, rid)

    def is_disconnected(self, rid: str) -> bool:
        return rid in self.disconnected

    def constraint_wa(self, mw: str, wa: str) -> str | None:
        """CommonMigration.getConstraintWa:159-165 — manual (by MW) else auto (by WA)."""
        res = self.clusters_manual.get(mw)
        if res is not None:
            return res
        return self.clusters.get(wa)


_AUTHORITY: Authority | None = None
_AUTHORITY_TEST: Authority | None = None


def get_authority(test_mode: bool = False) -> Authority:
    """test_mode mirrors MigrationTest.init (MigrationTest.java:72-77):
    the duplicate-cluster maps are loaded by CommonMigration.initClusters,
    which only MigrationApp.main calls — golden fixtures were produced
    with those maps EMPTY."""
    global _AUTHORITY, _AUTHORITY_TEST
    if test_mode:
        if _AUTHORITY_TEST is None:
            full = get_authority(False)
            import dataclasses

            _AUTHORITY_TEST = dataclasses.replace(
                full, clusters={}, clusters_manual={}, series_clusters={},
                instance_clusters={},
            )
        return _AUTHORITY_TEST
    if _AUTHORITY is None:
        _AUTHORITY = Authority(
            rid_replacements=_csv_map("ridReplacements.csv"),
            disconnected=_txt_set("disconnectedRIDs.txt"),
            ric=_txt_set("rid-ric.txt"),
            ric_with_outline=_txt_set("ricwithoutline.csv"),
            tol=_csv_map("tol.csv", key_col=1, val_col=2, skip_header=True),
            person_traditions=_csv_multimap("person-traditions.csv"),
            clusters=_csv_map("clusters.csv"),
            clusters_manual=_csv_map("clusters-manual.csv"),
            instance_clusters=_csv_map("instance-clusters.csv"),
            series_clusters=_csv_map("reconcileseries-clustered-inv.csv"),
            remove_w=_txt_set("femc-removeW.csv"),
            nok_for_lending=_txt_set("nokforcdl.txt"),
            copyrighted=_txt_set("mw-copyrighted.csv"),
            copyright_claimed=_txt_set("mw-copyright-claimed.csv"),
            copyright_undetermined=_txt_set("mw-copyright-undetermined.csv"),
            oclc=_csv_map("oclc-ia.csv"),
            abstract_rkts=_csv_map("abstract-rkts.csv"),
            creator_roles=_csv_map("creator-migrations.txt"),
            genre_topics=_txt_set("topics-genres.txt"),
            trad_chars={c[0] for c in _txt_set("tclist.txt") if c},
        )
    return _AUTHORITY
