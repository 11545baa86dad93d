"""Seeded occurrence corpus for the lifecycle benchmark.

Everything here is plain Python driven by one `random.Random(seed)`: the
same seed gives byte-identical archives and dimension tables. The program
under test never sees the seed, only the files written from a `Corpus`.

The corpus has the structure of what a biocache deployment ingests, but
its shares and sizes are bracketing assumptions chosen for the benchmark,
not figures measured on a deployment (README.md in this directory lists
them):

* data resources with Zipf-skewed sizes, each shipped as its own Darwin
  Core Archive directory (GBIF-style TSV, meta.xml star schema);
* coordinates drawn from a per-taxon pool of repeated sites with a fixed
  share, so distinct points per record (the sampling and hybrid-chain
  distinct-tuple work) is set by the workload's profile (`PROFILES`);
* dates in ISO, d/m/Y, partial (year-month, year) and range forms, plus
  records that give only year/month/day fields;
* a names dimension of a few hundred taxa with homonyms (one name in two
  kingdoms) and records carrying misspelled names, far below Spark's
  broadcast threshold;
* ten contextual polygon layers (rectangular tilings of the continent's
  bounding box, one of them the state layer) and a 0.1-degree
  environmental grid with two layers;
* planted cases whose expected outcome the benchmark checks: invalid
  basisOfRecord, out-of-range coordinates, sensitive species, duplicate
  groups at exact and at varying coordinate precision, environmental
  outliers and records outside their taxon's expert range.
"""

from __future__ import annotations

import itertools
import math
import os
import random
from dataclasses import dataclass, field

N_RESOURCES = 10
ZIPF_EXPONENT = 1.1
MIN_RESOURCE_RECORDS = 40
N_TAXA = 240
N_HOMONYMS = 8
N_SENSITIVE = 8
N_EXPERT = 10
N_ENV_OUTLIER_TAXA = 6
SITES_PER_TAXON = 6
# input shape per workload: share of records reusing one of their taxon's
# sites and size of the pool of event-date tuples records draw from (None =
# every record draws a fresh date). The two profiles bracket the sharing
# the distinct-tuple paths depend on (almost all shared, none shared);
# they are assumptions, not deployment measurements, and differ in nothing
# else
PROFILES = {
    "repeated": {"repeat_share": 0.9, "date_pool": 150},
    "distinct": {"repeat_share": 0.0, "date_pool": None},
}
# share of records carrying a misspelled name, the same in both profiles
MISSPELL_SHARE = 0.05
INVALID_BOR_SHARE = 0.01
OUT_OF_RANGE_SHARE = 0.01
EXACT_DUP_GROUPS = 12
VARYING_DUP_GROUPS = 8
EL_RESOLUTION = 0.1

LON_MIN, LON_MAX = 113.0, 154.0
LAT_MIN, LAT_MAX = -44.0, -10.0

STATES = [
    "Western Australia", "Northern Territory", "South Australia", "Queensland",
    "New South Wales", "Victoria", "Tasmania", "Australian Capital Territory",
]
# (layerID, columns, rows) of each rectangular tiling; cl_state's tiles
# are named after STATES, as a deployment's state layer is
CL_TILINGS = [
    ("cl_state", 4, 2), ("cl_ibra", 3, 3), ("cl_imcra", 4, 4), ("cl_nrm", 5, 3),
    ("cl_lga", 6, 5), ("cl_catch", 3, 6), ("cl_soil", 8, 4), ("cl_veg", 4, 8),
    ("cl_fire", 5, 5), ("cl_zone", 7, 6),
]
EL_LAYERS = ("el_temp", "el_rain")
VALID_BOR = ["PreservedSpecimen", "HumanObservation", "MachineObservation"]
BOR_VARIANTS = ["specimen", "observation", "S", "O"]
# the basisOfRecord vocabulary's canonical term for each generated value
BOR_CANONICAL = {
    **{v: v for v in VALID_BOR},
    "specimen": "PreservedSpecimen", "S": "PreservedSpecimen",
    "observation": "HumanObservation", "O": "HumanObservation",
}
TYPE_STATUS = ["", "", "", "holotype", "paratype"]
OCC_STATUS = ["", "present", "present", "absent"]
EST_MEANS = ["", "native", "introduced"]
COLUMNS = [
    "occurrenceID", "scientificName", "kingdom", "decimalLatitude",
    "decimalLongitude", "geodeticDatum", "coordinateUncertaintyInMeters",
    "eventDate", "year", "month", "day", "basisOfRecord", "recordedBy",
    "recordNumber", "catalogNumber", "stateProvince", "country", "typeStatus",
    "occurrenceStatus", "establishmentMeans",
]
_DWC = "http://rs.tdwg.org/dwc/terms/"


@dataclass
class Taxon:
    name: str
    lsid: str
    kingdom: str
    rank_weight: float
    home: tuple[float, float]  # (lat, lon)
    sites: list[tuple[str, str]] = field(default_factory=list)
    sensitive: bool = False
    expert: bool = False
    env_outlier: bool = False
    homonym: bool = False


@dataclass
class Corpus:
    seed: int
    resources: list[tuple[str, int]]  # (uid, record count), largest first
    records: dict[str, dict]  # rowKey ("uid|occurrenceID") -> raw record
    taxa: list[Taxon]
    cl_layers: list[tuple[str, str, str]]
    el_layers: list[tuple[str, float, float, float]]
    planted: dict[str, set[str]]  # case -> rowKeys
    exact_dup_groups: list[list[str]]

    def resource_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for rec in self.records.values():
            out[rec["dataResourceUid"]] = out.get(rec["dataResourceUid"], 0) + 1
        return out


def _name_part(rng: random.Random, n_syll: int) -> str:
    syll = ["ca", "ro", "mi", "tu", "le", "pha", "no", "bra", "chi", "del",
            "xo", "ly", "ma", "ter", "gi", "os", "pe", "qua", "ri", "sta"]
    return "".join(rng.choice(syll) for _ in range(n_syll))


def _misspell(rng: random.Random, name: str) -> str:
    genus, epithet = name.split(" ", 1)
    i = rng.randrange(1, len(epithet) - 1)
    return f"{genus} {epithet[:i]}{epithet[i + 1]}{epithet[i]}{epithet[i + 2:]}"


def _fmt(value: float, decimals: int) -> str:
    return f"{value:.{decimals}f}"


def _make_taxa(rng: random.Random) -> list[Taxon]:
    genera = sorted({_name_part(rng, 3).capitalize() for _ in range(70)})
    names: set[str] = set()
    taxa: list[Taxon] = []
    while len(taxa) < N_TAXA:
        name = f"{rng.choice(genera)} {_name_part(rng, 3)}"
        if name in names:
            continue
        names.add(name)
        home = (rng.uniform(LAT_MIN + 4, LAT_MAX - 4), rng.uniform(LON_MIN + 4, LON_MAX - 4))
        taxa.append(
            Taxon(
                name=name,
                lsid=f"urn:lsid:bench:taxon:{len(taxa)}",
                kingdom=rng.choice(["Animalia", "Plantae"]),
                rank_weight=1.0 / (len(taxa) + 1) ** 0.8,
                home=home,
            )
        )
    for t in taxa:
        for _ in range(SITES_PER_TAXON):
            lat = t.home[0] + rng.uniform(-2, 2)
            lon = t.home[1] + rng.uniform(-2, 2)
            t.sites.append((_fmt(lat, 4), _fmt(lon, 4)))
    # roles are taken from disjoint slices of a shuffled order so each
    # planted case has an unambiguous expected outcome
    order = list(range(N_TAXA))
    rng.shuffle(order)
    frequent = sorted(order[: N_TAXA // 3])  # low index = high weight
    rest = [i for i in order if i not in set(frequent)]
    for i in frequent[:N_ENV_OUTLIER_TAXA]:
        taxa[i].env_outlier = True
    for i in frequent[N_ENV_OUTLIER_TAXA : N_ENV_OUTLIER_TAXA + N_EXPERT]:
        taxa[i].expert = True
    for i in rest[:N_SENSITIVE]:
        taxa[i].sensitive = True
    for i in rest[N_SENSITIVE : N_SENSITIVE + N_HOMONYMS]:
        taxa[i].homonym = True
    return taxa


def _cl_layers() -> list[tuple[str, str, str]]:
    rows = []
    for layer_id, nx, ny in CL_TILINGS:
        dx = (LON_MAX - LON_MIN) / nx
        dy = (LAT_MAX - LAT_MIN) / ny
        for ix in range(nx):
            for iy in range(ny):
                x0, y0 = LON_MIN + ix * dx, LAT_MIN + iy * dy
                x1, y1 = x0 + dx, y0 + dy
                k = ix * ny + iy
                name = STATES[k] if layer_id == "cl_state" else f"{layer_id}_{k}"
                wkt = (f"POLYGON(({x0:.4f} {y0:.4f}, {x1:.4f} {y0:.4f}, {x1:.4f} "
                       f"{y1:.4f}, {x0:.4f} {y1:.4f}, {x0:.4f} {y0:.4f}))")
                rows.append((layer_id, name, wkt))
    return rows


def _event_fields(rng: random.Random) -> dict[str, str]:
    y, m, d = rng.randint(1950, 2024), rng.randint(1, 12), rng.randint(1, 28)
    form = rng.random()
    out = {"eventDate": "", "year": "", "month": "", "day": ""}
    if form < 0.45:
        out["eventDate"] = f"{y:04d}-{m:02d}-{d:02d}"
    elif form < 0.60:
        out["eventDate"] = f"{d:02d}/{m:02d}/{y:04d}"
    elif form < 0.70:
        out["eventDate"] = f"{y:04d}-{m:02d}"
    elif form < 0.75:
        out["eventDate"] = f"{y:04d}"
    elif form < 0.85:
        d2 = min(28, d + rng.randint(1, 7))
        out["eventDate"] = f"{y:04d}-{m:02d}-{d:02d}/{y:04d}-{m:02d}-{d2:02d}"
    else:
        out.update(year=str(y), month=str(m), day=str(d))
    return out


def event_year(rec: dict) -> int | None:
    """The year a record's event fields give, in every generated form."""
    date = rec["eventDate"]
    if not date:
        return int(rec["year"]) if rec["year"] else None
    if "/" in date and "-" not in date:  # d/m/Y
        return int(date.rsplit("/", 1)[1])
    return int(date[:4])


@dataclass
class _Shape:
    repeat_share: float
    dates: list[dict[str, str]] | None  # pool to draw from; None = fresh


def _record(rng: random.Random, shape: _Shape, uid: str, occ_id: str, taxon: Taxon,
            collectors: list[str]) -> dict:
    if rng.random() < shape.repeat_share:
        lat, lon = rng.choice(taxon.sites)
    else:
        dec = rng.randint(2, 5)
        lat = _fmt(taxon.home[0] + rng.uniform(-2, 2), dec)
        lon = _fmt(taxon.home[1] + rng.uniform(-2, 2), dec)
    rec = {
        "dataResourceUid": uid,
        "occurrenceID": occ_id,
        "scientificName": taxon.name,
        "kingdom": taxon.kingdom if rng.random() < 0.5 else "",
        "decimalLatitude": lat,
        "decimalLongitude": lon,
        "geodeticDatum": rng.choice(["WGS84", "WGS84", "EPSG:4326", ""]),
        "coordinateUncertaintyInMeters": rng.choice(["", "10", "100", "1000"]),
        "basisOfRecord": rng.choice(VALID_BOR + BOR_VARIANTS),
        "recordedBy": rng.choice(collectors),
        "recordNumber": f"RN{rng.randint(1, 99999)}",
        "catalogNumber": f"{uid.upper()}-{rng.randint(1, 999999)}",
        "stateProvince": "",
        "country": rng.choice(["Australia", ""]),
        "typeStatus": rng.choice(TYPE_STATUS),
        "occurrenceStatus": rng.choice(OCC_STATUS),
        "establishmentMeans": rng.choice(EST_MEANS),
    }
    rec.update(rng.choice(shape.dates) if shape.dates else _event_fields(rng))
    if taxon.homonym:
        rec["kingdom"] = ""  # unresolvable homonym: the matcher must flag it
    elif not taxon.sensitive and rng.random() < MISSPELL_SHARE:
        rec["scientificName"] = _misspell(rng, taxon.name)
    return rec


def _is_plain(taxon: Taxon) -> bool:
    """A record free to carry a planted case: its taxon has no role whose
    expected outcome the case would disturb."""
    return not (taxon.sensitive or taxon.expert or taxon.env_outlier or taxon.homonym)


def resource_sizes(n_records: int) -> list[int]:
    weights = [1.0 / (i + 1) ** ZIPF_EXPONENT for i in range(N_RESOURCES)]
    total = sum(weights)
    return [max(MIN_RESOURCE_RECORDS, round(n_records * w / total)) for w in weights]


def generate(seed: int, n_records: int, profile: str) -> Corpus:
    rng = random.Random(seed)
    taxa = _make_taxa(rng)
    p = PROFILES[profile]
    shape = _Shape(
        repeat_share=p["repeat_share"],
        dates=[_event_fields(rng) for _ in range(p["date_pool"])] if p["date_pool"] else None,
    )
    cum = list(itertools.accumulate(t.rank_weight for t in taxa))
    collectors = [f"{_name_part(rng, 2).capitalize()}, {chr(65 + rng.randrange(26))}."
                  for _ in range(60)]
    sizes = resource_sizes(n_records)
    resources = [(f"dr{i + 1}", n) for i, n in enumerate(sizes)]
    records: dict[str, dict] = {}
    planted: dict[str, set[str]] = {
        "invalid_bor": set(), "out_of_range": set(), "sensitive": set(),
        "env_outlier": set(), "expert_outside": set(), "varying_dup": set(),
    }
    for uid, n in resources:
        for i in range(n):
            taxon = rng.choices(taxa, cum_weights=cum)[0]
            rec = _record(rng, shape, uid, f"{uid}-occ-{i}", taxon, collectors)
            key = f"{uid}|{rec['occurrenceID']}"
            if _is_plain(taxon):
                roll = rng.random()
                if roll < INVALID_BOR_SHARE:
                    rec["basisOfRecord"] = f"zzq-basis-{rng.randint(1, 9)}"
                    planted["invalid_bor"].add(key)
                elif roll < INVALID_BOR_SHARE + OUT_OF_RANGE_SHARE:
                    if rng.random() < 0.5:
                        rec["decimalLatitude"] = _fmt(rng.uniform(91, 120), 3)
                    else:
                        rec["decimalLongitude"] = _fmt(rng.uniform(181, 250), 3)
                    planted["out_of_range"].add(key)
            if taxon.sensitive:
                planted["sensitive"].add(key)
            records[key] = rec

    uids = [uid for uid, _ in resources]
    # environmental outliers: one record per taxon at an isolated hot spot
    # whose grid cells are given extreme values below
    hot_points: list[tuple[str, str]] = []
    for t in taxa:
        if t.env_outlier:
            uid = rng.choice(uids[:4])
            lat = _fmt(t.home[0] + rng.choice([-1, 1]) * 2.55, 3)
            lon = _fmt(t.home[1] + rng.choice([-1, 1]) * 2.55, 3)
            rec = _record(rng, shape, uid, f"{uid}-env-{len(hot_points)}", t, collectors)
            rec.update(decimalLatitude=lat, decimalLongitude=lon,
                       scientificName=t.name, basisOfRecord="HumanObservation")
            key = f"{uid}|{rec['occurrenceID']}"
            records[key] = rec
            planted["env_outlier"].add(key)
            hot_points.append((lat, lon))
    # expert-range outliers: records placed well outside the taxon's range
    for t in taxa:
        if t.expert:
            for j in range(2):
                uid = rng.choice(uids[:4])
                rec = _record(rng, shape, uid, f"{uid}-exp-{t.lsid.rsplit(':', 1)[1]}-{j}",
                              t, collectors)
                lat = min(LAT_MAX - 0.5, max(LAT_MIN + 0.5, t.home[0] + rng.uniform(-1, 1)))
                lon = t.home[1] + (7.0 if t.home[1] < 133 else -7.0)
                rec.update(decimalLatitude=_fmt(lat, 3), decimalLongitude=_fmt(lon, 3),
                           scientificName=t.name)
                key = f"{uid}|{rec['occurrenceID']}"
                records[key] = rec
                planted["expert_outside"].add(key)
    # duplicate groups: one taxon, day and collector across 2-4 resources;
    # exact groups share the coordinate strings, varying groups give the
    # same point at 4, 3 and 2 decimals
    plain = [t for t in taxa if _is_plain(t)]
    exact_groups: list[list[str]] = []
    for g in range(EXACT_DUP_GROUPS + VARYING_DUP_GROUPS):
        t = rng.choice(plain)
        y, m, d = rng.randint(1970, 2020), rng.randint(1, 12), rng.randint(1, 28)
        lat0 = t.home[0] + rng.uniform(-1, 1)
        lon0 = t.home[1] + rng.uniform(-1, 1)
        collector = rng.choice(collectors)
        catalog = f"DUP-{g}-{rng.randint(1000, 9999)}"
        members = rng.sample(uids, rng.randint(2, 4))
        keys = []
        for j, uid in enumerate(members):
            rec = _record(rng, shape, uid, f"{uid}-dup-{g}-{j}", t, collectors)
            dec = 4 if g < EXACT_DUP_GROUPS else 4 - (j % 3)
            rec.update(
                scientificName=t.name, eventDate=f"{y:04d}-{m:02d}-{d:02d}",
                year="", month="", day="", recordedBy=collector,
                catalogNumber=catalog, basisOfRecord="PreservedSpecimen",
                decimalLatitude=_fmt(lat0, dec), decimalLongitude=_fmt(lon0, dec),
            )
            key = f"{uid}|{rec['occurrenceID']}"
            records[key] = rec
            keys.append(key)
        if g < EXACT_DUP_GROUPS:
            exact_groups.append(keys)
        else:
            planted["varying_dup"].update(keys)

    el_layers = _el_grid(records, hot_points)
    resource_counts: dict[str, int] = {}
    for rec in records.values():
        resource_counts[rec["dataResourceUid"]] = resource_counts.get(rec["dataResourceUid"], 0) + 1
    resources = sorted(resource_counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return Corpus(
        seed=seed, resources=resources, records=records, taxa=taxa,
        cl_layers=_cl_layers(), el_layers=el_layers, planted=planted,
        exact_dup_groups=exact_groups,
    )


def _bin(v: float) -> int:
    return math.floor(round(v / EL_RESOLUTION, 6))


def _el_grid(records: dict[str, dict], hot_points: list[tuple[str, str]]):
    """One grid row per layer for every 0.1-degree cell holding a point;
    the cells of the planted hot spots carry extreme values."""
    hot = {(_bin(float(a)), _bin(float(b))) for a, b in hot_points}
    cells = set()
    for rec in records.values():
        lat, lon = float(rec["decimalLatitude"]), float(rec["decimalLongitude"])
        if -90 <= lat <= 90 and -180 <= lon <= 180:
            cells.add((_bin(lat), _bin(lon)))
    rows = []
    for la, lo in sorted(cells):
        lat, lon = la * EL_RESOLUTION, lo * EL_RESOLUTION
        temp = 30.0 + 0.4 * lat + 0.5 * math.sin(lon)
        rain = 800.0 + 12.0 * math.cos(lat) * 40 - 3.0 * (lon - 130)
        if (la, lo) in hot:
            temp, rain = temp + 60.0, rain * 8.0
        rows.append((EL_LAYERS[0], round(lat, 1), round(lon, 1), round(temp, 3)))
        rows.append((EL_LAYERS[1], round(lat, 1), round(lon, 1), round(rain, 2)))
    return rows


def _tsv_line(rec: dict) -> str:
    return "\t".join([rec["occurrenceID"]] + [rec.get(c, "") for c in COLUMNS])


def _meta_xml() -> str:
    fields = "\n".join(
        f'    <field index="{i + 1}" term="{_DWC}{c}"/>' for i, c in enumerate(COLUMNS)
    )
    return (
        '<archive xmlns="http://rs.tdwg.org/dwc/text/">\n'
        '  <core encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n" '
        'fieldsEnclosedBy="" ignoreHeaderLines="1" '
        f'rowType="{_DWC}Occurrence">\n'
        "    <files><location>occurrence.txt</location></files>\n"
        '    <id index="0"/>\n'
        f"{fields}\n"
        "  </core>\n"
        "</archive>\n"
    )


def write_archive(records: list[dict], archive_dir: str) -> None:
    os.makedirs(archive_dir, exist_ok=True)
    with open(os.path.join(archive_dir, "meta.xml"), "w", encoding="utf-8") as f:
        f.write(_meta_xml())
    with open(os.path.join(archive_dir, "occurrence.txt"), "w", encoding="utf-8") as f:
        f.write("\t".join(["id"] + COLUMNS) + "\n")
        for rec in records:
            f.write(_tsv_line(rec) + "\n")


def write_archives(corpus: Corpus, out_dir: str) -> list[tuple[str, str]]:
    """One DwC-A directory per data resource; returns (uid, directory)."""
    by_uid: dict[str, list[dict]] = {uid: [] for uid, _ in corpus.resources}
    for key in sorted(corpus.records):
        rec = corpus.records[key]
        by_uid[rec["dataResourceUid"]].append(rec)
    out = []
    for uid, _ in corpus.resources:
        path = os.path.join(out_dir, uid)
        write_archive(by_uid[uid], path)
        out.append((uid, path))
    return out


def dimension_tables(corpus: Corpus) -> dict[str, tuple[str, list[tuple]]]:
    """name -> (DDL schema, rows) for every dimension the pipeline and the
    maintenance operators read."""
    taxa_rows = []
    for i, t in enumerate(corpus.taxa):
        taxa_rows.append((t.name, t.lsid, "species", 10 * i, 10 * i + 1,
                          f"common {t.name.split()[1]}", t.kingdom))
        if t.homonym:
            other = "Plantae" if t.kingdom == "Animalia" else "Animalia"
            taxa_rows.append((t.name, t.lsid + ":h", "species", 10 * i + 2,
                              10 * i + 3, None, other))
    sensitive_rows = [
        (t.name, "10km" if j % 2 == 0 else "1km", None, "Vulnerable", "bench")
        for j, t in enumerate(t for t in corpus.taxa if t.sensitive)
    ]
    dr_rows = [
        (uid, f"Resource {uid}", f"dp{1 + k % 5}", f"Provider {1 + k % 5}", ["dh1"])
        for k, (uid, _) in enumerate(sorted(corpus.resources))
    ]
    dist_rows = []
    for t in corpus.taxa:
        if t.expert:
            lat, lon = t.home
            dist_rows.append((t.lsid, (
                f"POLYGON(({lon - 3:.3f} {lat - 3:.3f}, {lon + 3:.3f} {lat - 3:.3f}, "
                f"{lon + 3:.3f} {lat + 3:.3f}, {lon - 3:.3f} {lat + 3:.3f}, "
                f"{lon - 3:.3f} {lat - 3:.3f}))")))
    return {
        "taxa": ("scientificName string, taxonConceptID string, taxonRank string, "
                 "lft int, rgt int, vernacularName string, kingdom string", taxa_rows),
        "sensitive_species": ("scientificName string, generalisation string, "
                              "zone string, category string, authority string",
                              sensitive_rows),
        "data_resources": ("dataResourceUid string, dataResourceName string, "
                           "dataProviderUid string, dataProviderName string, "
                           "dataHubUid array<string>", dr_rows),
        "cl_layers": ("layerID string, name string, wkt string", corpus.cl_layers),
        "el_layers": ("layerID string, lat_bin double, lon_bin double, value double",
                      corpus.el_layers),
        "distributions": ("taxonConceptID string, wkt string", dist_rows),
    }


_ARROW_TYPES = {"string": "string", "int": "int32", "double": "float64"}


def write_dimensions(corpus: Corpus, out_dir: str) -> dict[str, str]:
    """Each dimension table as one parquet file; returns name -> path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, (ddl, rows) in dimension_tables(corpus).items():
        fields = []
        for spec in ddl.split(", "):
            col, typ = spec.strip().split(" ", 1)
            arrow = pa.list_(pa.string()) if typ == "array<string>" else getattr(pa, _ARROW_TYPES[typ])()
            fields.append((col, arrow))
        schema = pa.schema(fields)
        table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
