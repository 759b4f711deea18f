"""Authority / override side-tables (SURVEY.md §1.1, FIXTURES.md §A.3).

The reference preloads ~30 resource CSVs into static HashMaps
(MigrationHelpers.java:171-209) before it migrates anything.  Here they
are one `Authority` value, an input to the run: `get_authority()` loads
it once on the driver, `Pipeline` hands it to the parse stage, and the
mapInArrow function carries it to the executors by value (Spark ships a
pickled command over 1 MiB as a broadcast).  Record-local lookups
(sanitizeRID, isDisconnected) read that copy; nothing on a worker reads
the resource files.

Tables are read from the reference's resources directory when present
(read-only, they are data inputs, not code) and default to empty so the
engine runs standalone.
"""

from __future__ import annotations

import csv
import dataclasses
import functools
import re
from dataclasses import dataclass, field

from xmltoldmigration_spark import REFERENCE_ROOT

RESOURCES = REFERENCE_ROOT / "src/main/resources"


def _read(name: str) -> list[str]:
    """Lines of one resource file; none when it is absent."""
    p = RESOURCES / name
    if not p.exists():
        return []
    with open(p, encoding="utf-8") as f:
        return f.readlines()


def _csv_rows(name: str, skip_header: bool = False) -> list[list[str]]:
    rows = csv.reader(_read(name))
    if skip_header:
        next(rows, None)
    return [row for row in rows if row and not row[0].startswith("#")]


def _csv_map(name: str, key_col: int = 0, val_col: int = 1, skip_header: bool = False):
    return {row[key_col].strip(): row[val_col].strip()
            for row in _csv_rows(name, skip_header) if len(row) > max(key_col, val_col)}


def _txt_set(name: str) -> set[str]:
    return {ln.strip() for ln in _read(name) if ln.strip() and not ln.startswith("#")}


def _csv_multimap(name: str) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for row in _csv_rows(name):
        if len(row) > 1:
            out.setdefault(row[0].strip(), []).append(row[1].strip())
    return out


def _ewts_fixes(name: str) -> dict[str, dict[str, str]]:
    """`RID:::bad:::fixed` lines -> {rid: {bad: fixed}}
    (helpers/EwtsFixer.java:20-45)."""
    out: dict[str, dict[str, str]] = {}
    for line in _read(name):
        line = line.rstrip("\n")
        ci = line.find(":")
        data = line[ci + 3:].split(":::")
        if ci >= 0 and len(data) >= 2:
            out.setdefault(line[:ci], {})[data[0]] = data[1]
    return out


@dataclass
class Authority:
    """All record-local authority lookups, loaded once per run."""

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
    ewts_fixes: dict = field(default_factory=dict)  # rid -> {bad EWTS: fixed}

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

    def ewts_fix(self, rid: str, src: str) -> str | None:
        """EwtsFixer.getFixed: the fix of `src` in record `rid` (a volume
        suffix _NNNN dropped), or None."""
        return self.ewts_fixes.get(re.sub(r"_\d\d\d\d$", "", rid), {}).get(src)

    def without_clusters(self) -> Authority:
        """Golden mode, as MigrationTest.init (MigrationTest.java:72-77)
        runs it: the duplicate-cluster maps are loaded by
        CommonMigration.initClusters, which only MigrationApp.main calls,
        so the golden fixtures were produced with those maps EMPTY."""
        return dataclasses.replace(
            self, clusters={}, clusters_manual={}, series_clusters={},
            instance_clusters={},
        )

    def row_counts(self) -> dict[str, int]:
        """Rows per table, for run reports."""
        return {f.name: len(getattr(self, f.name)) for f in dataclasses.fields(self)
                if not f.name.startswith("_")}


@functools.cache
def get_authority() -> Authority:
    """The tables under RESOURCES, read once per process (empty when the
    reference checkout is absent)."""
    return Authority(
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
        ewts_fixes=_ewts_fixes("ewts-fixes.txt"),
    )
