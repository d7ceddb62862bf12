"""Seeded input generators and engine-independent expected answers.

Everything here is plain Python (plus numpy/pyarrow for the parquet tables):
no Spark, and no code from the engine package, so the expected answers it
returns are an independent check on what the engine produces.
"""

from __future__ import annotations

import gzip
import random
import zlib
from collections import Counter
from pathlib import Path

# --------------------------------------------------------------------------
# Molecules: explicit graphs, written as SMILES by a randomized DFS.
#
# A molecule is a nitrile head (N#C-), a backbone of units, and a bromine
# tail. Nitrile and bromine occur nowhere else, so the backbone is the unique
# head-to-tail path and two different unit sequences are never the same
# molecule: the generator knows the true number of distinct molecules
# without running any canonicalizer.
# --------------------------------------------------------------------------

_UNITS = ("me", "oh", "f", "cl", "keto", "nh2", "phenyl", "cyprop", "para", "amine", "ether", "vinyl")


class Mol:
    """Atoms as (symbol, aromatic) and bonds as {(i, j): order}, i < j.

    ``order`` is 1, 2, 3, or "ar" for a bond inside an aromatic ring.
    """

    def __init__(self) -> None:
        self.atoms: list[tuple[str, bool]] = []
        self.bonds: dict[tuple[int, int], object] = {}

    def add(self, symbol: str, aromatic: bool = False) -> int:
        self.atoms.append((symbol, aromatic))
        return len(self.atoms) - 1

    def bond(self, a: int, b: int, order: object = 1) -> None:
        self.bonds[(a, b) if a < b else (b, a)] = order

    def neighbors(self) -> list[list[int]]:
        nbrs: list[list[int]] = [[] for _ in self.atoms]
        for a, b in self.bonds:
            nbrs[a].append(b)
            nbrs[b].append(a)
        return nbrs


def _ring(m: Mol, size: int, aromatic: bool) -> list[int]:
    ids = [m.add("C", aromatic) for _ in range(size)]
    for k in range(size):
        m.bond(ids[k], ids[(k + 1) % size], "ar" if aromatic else 1)
    return ids


def _add_unit(m: Mol, prev: int, unit: str) -> int:
    """Attach one backbone unit after atom ``prev``; return the new end atom."""
    if unit == "para":
        ring = _ring(m, 6, True)
        m.bond(prev, ring[0])
        return ring[3]
    if unit == "amine":
        n = m.add("N")
        m.bond(prev, n)
        return n
    if unit == "ether":
        o = m.add("O")
        m.bond(prev, o)
        c = m.add("C")
        m.bond(o, c)
        return c
    c = m.add("C")
    m.bond(prev, c, 2 if unit == "vinyl" else 1)
    if unit == "vinyl":
        c2 = m.add("C")
        m.bond(c, c2)
        return c2
    if unit in ("me", "oh", "f", "cl", "nh2"):
        m.bond(c, m.add({"me": "C", "oh": "O", "f": "F", "cl": "Cl", "nh2": "N"}[unit]))
    elif unit == "keto":
        m.bond(c, m.add("O"), 2)
    elif unit == "phenyl":
        m.bond(c, _ring(m, 6, True)[0])
    elif unit == "cyprop":
        m.bond(c, _ring(m, 3, False)[0])
    return c


def build_mol(units: tuple[str, ...]) -> Mol:
    m = Mol()
    n = m.add("N")
    c = m.add("C")
    m.bond(n, c, 3)
    end = c
    for unit in units:
        end = _add_unit(m, end, unit)
    m.bond(end, m.add("Br"))
    return m


def random_units(rng: random.Random) -> tuple[str, ...]:
    units: list[str] = []
    for _ in range(rng.randint(2, 6)):
        unit = rng.choice(_UNITS)
        # no two aromatic rings bonded directly: keeps every aromatic-aromatic
        # bond inside one ring, so implicit bonds are always right
        if unit == "para" and units and units[-1] in ("para",):
            unit = "me"
        units.append(unit)
    return tuple(units)


def write_smiles(m: Mol, rng: random.Random | None = None) -> str:
    """SMILES for ``m``; with ``rng`` the start atom and branch order are random.

    Without ``rng`` the spelling is the deterministic DFS from atom 0.
    """
    nbrs = m.neighbors()
    children: dict[int, list[int]] = {}
    rank: dict[int, int] = {}

    def dfs(u: int) -> None:
        rank[u] = len(rank)
        cand = list(nbrs[u])
        if rng:
            rng.shuffle(cand)
        children[u] = []
        for v in cand:
            if v not in rank:
                children[u].append(v)
                dfs(v)

    dfs(rng.randrange(len(m.atoms)) if rng else 0)
    tree = {(u, v) if u < v else (v, u) for u, kids in children.items() for v in kids}
    ring_at: dict[int, list[tuple[int, int]]] = {}
    for e in m.bonds:
        if e not in tree:
            ring_at.setdefault(e[0], []).append(e)
            ring_at.setdefault(e[1], []).append(e)

    def bond_sym(a: int, b: int) -> str:
        order = m.bonds[(a, b) if a < b else (b, a)]
        if order in (2, 3):
            return "=" if order == 2 else "#"
        # a single bond between two aromatic atoms must be explicit
        return "-" if order == 1 and m.atoms[a][1] and m.atoms[b][1] else ""

    open_digits: dict[tuple[int, int], int] = {}
    free = list(range(1, 10))
    out: list[str] = []

    def emit(u: int) -> None:
        sym, aromatic = m.atoms[u]
        out.append(sym.lower() if aromatic else sym)
        for e in sorted(ring_at.get(u, ()), key=lambda e: rank[e[0] if e[1] == u else e[1]]):
            if e in open_digits:
                d = open_digits.pop(e)
                out.append(str(d))
                free.append(d)
                free.sort()
            else:
                d = free.pop(0)
                open_digits[e] = d
                out.append(bond_sym(*e) + str(d))
        kids = children[u]
        for i, v in enumerate(kids):
            branch = i < len(kids) - 1
            out.append("(" if branch else "")
            out.append(bond_sym(u, v))
            emit(v)
            out.append(")" if branch else "")

    emit(min(rank, key=rank.get))
    return "".join(out)


def fingerprint(smiles: str, n: int = 3, bits: int = 256) -> int:
    """Bitmask of crc32-folded character n-grams (the documented fingerprint)."""
    mask = 0
    for i in range(len(smiles) - n + 1):
        mask |= 1 << (zlib.crc32(smiles[i : i + n].encode()) % bits)
    return mask


def tanimoto(a: int, b: int) -> float:
    union = (a | b).bit_count()
    return 0.0 if union == 0 else (a & b).bit_count() / union


def top_k(query_fp: int, library: list[tuple[str, int]], k: int = 10) -> list[tuple[str, float]]:
    """Reference top-k: Tanimoto descending, then SMILES ascending."""
    scored = [(s, tanimoto(query_fp, fp)) for s, fp in library]
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


def molecule_library(seed: int, n_entries: int, respell_share: float, n_queries: int):
    """A library of SMILES where ``respell_share`` of entries re-spell others.

    Returns ``(entries, queries, mols)``: ``entries`` is a list of
    ``(smiles, base_id)``; entries sharing a ``base_id`` are the same
    molecule, ``mols[base_id]``. ``queries`` is a list of ``(smiles, base_id
    or None)``: half re-spell a library molecule, half are molecules absent
    from the library.
    """
    rng = random.Random(seed)
    n_base = round(n_entries * (1 - respell_share))
    seen: set[tuple[str, ...]] = set()
    mols: list[Mol] = []

    def fresh() -> Mol:
        while True:
            units = random_units(rng)
            if units not in seen:
                seen.add(units)
                return build_mol(units)

    for _ in range(n_base):
        mols.append(fresh())
    entries = [(write_smiles(m, rng), i) for i, m in enumerate(mols)]
    for _ in range(n_entries - n_base):
        i = rng.randrange(n_base)
        entries.append((write_smiles(mols[i], rng), i))
    rng.shuffle(entries)
    queries: list[tuple[str, int | None]] = []
    for q in range(n_queries):
        if q % 2 == 0:
            i = rng.randrange(n_base)
            queries.append((write_smiles(mols[i], rng), i))
        else:
            queries.append((write_smiles(fresh(), rng), None))
    rng.shuffle(queries)
    return entries, queries, mols


# --------------------------------------------------------------------------
# ingest_search: the library as PubChem-style .sdf.gz archives and one
# ZINC-style TSV tranche.
# --------------------------------------------------------------------------

ID_TAG = "PUBCHEM_COMPOUND_CID"
SMILES_TAG = "PUBCHEM_OPENEYE_ISO_SMILES"
_ELEMENT_MASS = {"C": 12.011, "N": 14.007, "O": 15.999, "F": 18.998, "Cl": 35.45, "Br": 79.904}


def _molfile(m: Mol, rng: random.Random) -> list[str]:
    """V2000 connection table of ``m`` (after the per-record header lines)."""
    lines = [f"{len(m.atoms):3d}{len(m.bonds):3d}  0     0  0  0  0  0  0999 V2000"]
    for sym, _ar in m.atoms:
        x, y = rng.uniform(-9, 9), rng.uniform(-9, 9)
        lines.append(f"{x:10.4f}{y:10.4f}{0.0:10.4f} {sym:<3} 0  0  0  0  0  0  0  0  0  0  0  0")
    for (a, b), order in m.bonds.items():
        lines.append(f"{a + 1:3d}{b + 1:3d}{4 if order == 'ar' else order:3d}  0  0  0  0")
    lines.append("M  END")
    return lines


def _sdf_record(cid: int, smiles: str, m: Mol, molfile: list[str], rng: random.Random, kind: str) -> tuple[str, dict[str, str] | None]:
    """One record's text and the metadata the reader must keep.

    ``kind`` is "ok", "no_cid", "blank_cid" or "blank_smiles". Returns
    ``(text, metadata)``; ``metadata`` is None when the record must be dropped.
    """
    formula = Counter(sym for sym, _ in m.atoms)
    mass = sum(_ELEMENT_MASS[s] * c for s, c in formula.items())
    name = f"compound-{cid}-{rng.getrandbits(48):012x}"
    tags = [
        ("PUBCHEM_COMPOUND_CANONICALIZED", "1"),
        ("PUBCHEM_CACTVS_COMPLEXITY", str(rng.randint(10, 900))),
        ("PUBCHEM_CACTVS_HBOND_ACCEPTOR", str(formula["N"] + formula["O"])),
        ("PUBCHEM_CACTVS_HBOND_DONOR", str(rng.randint(0, 4))),
        ("PUBCHEM_CACTVS_ROTATABLE_BOND", str(rng.randint(0, 12))),
        ("PUBCHEM_IUPAC_OPENEYE_NAME", name),
        ("PUBCHEM_IUPAC_NAME", name.upper()),
        ("PUBCHEM_IUPAC_INCHI", "InChI=1S/" + "".join(f"{s}{c}" for s, c in sorted(formula.items())) + f"/c{cid}"),
        ("PUBCHEM_IUPAC_INCHIKEY", f"{rng.getrandbits(56):014X}-UHFFFAOYSA-N"),
        ("PUBCHEM_XLOGP3", f"{rng.uniform(-3, 8):.1f}"),
        ("PUBCHEM_EXACT_MASS", f"{mass:.6f}"),
        ("PUBCHEM_MOLECULAR_FORMULA", "".join(f"{s}{c}" for s, c in sorted(formula.items()))),
        ("PUBCHEM_MOLECULAR_WEIGHT", f"{mass:.2f}"),
        ("PUBCHEM_OPENEYE_CAN_SMILES", smiles),
        ("PUBCHEM_CACTVS_TPSA", f"{rng.uniform(0, 140):.1f}"),
        ("PUBCHEM_MONOISOTOPIC_WEIGHT", f"{mass:.6f}"),
        ("PUBCHEM_TOTAL_CHARGE", "0"),
        ("PUBCHEM_HEAVY_ATOM_COUNT", str(len(m.atoms))),
        ("PUBCHEM_ISOTOPIC_ATOM_COUNT", ""),  # empty: dropped from metadata
        ("PUBCHEM_COORDINATE_TYPE", "1\n5\n255"),  # multi-line value
        ("PUBCHEM_BONDANNOTATIONS", "\n".join(f"{a + 1}  {b + 1}  8" for (a, b), o in list(m.bonds.items())[:4] if o == "ar") or "none"),
    ]
    smiles_value = "" if kind == "blank_smiles" else smiles
    head: list[tuple[str, str]] = []
    if kind != "no_cid":
        head.append((ID_TAG, "   " if kind == "blank_cid" else str(cid)))
    head.append((SMILES_TAG, smiles_value))
    lines = [str(cid), "  -OEChem-01012600002D", "", *molfile]
    for tag, value in head + tags:
        lines.append(f">  <{tag}>")
        lines.extend(value.split("\n") if value else [])
        lines.append("")
    lines.append("$$$$")
    text = "\n".join(lines) + "\n"
    if kind in ("no_cid", "blank_cid"):
        return text, None
    return text, {t: v for t, v in tags if v.strip()}


def ingest_inputs(root: Path, seed: int, entries, mols: list[Mol], n_archives: int, tranche_share: float, malformed_share: float):
    """Write the library ``entries`` as SDF archives + one TSV tranche.

    Returns ``(expected, base_of, stats)``. ``expected`` maps each input file
    (``<source>/<name>``) to a Counter of ``(source, identifier, smiles,
    metadata items)`` following the documented reader rules: an SDF record
    is kept iff its identifier is non-blank (a blank SMILES is kept as ""),
    metadata holds every other non-empty tag; a tranche line is kept iff it
    has both columns non-blank, metadata holds the other non-blank columns
    as ``column_<i>`` plus ``source_file`` (compared by file name).
    ``base_of`` maps the identifier of every kept record with a SMILES to
    its molecule.
    """
    rng = random.Random(seed)
    sdf_dir, tsv_dir = root / "pubchem", root / "zinc"
    sdf_dir.mkdir(parents=True)
    tsv_dir.mkdir(parents=True)
    n_tranche = int(len(entries) * tranche_share)
    sdf_entries, tsv_entries = entries[n_tranche:], entries[:n_tranche]
    # uneven archive sizes, like a real mirror's; the same pattern for every
    # seed, so that the seed does not decide how well the archives balance
    weights = [0.3 + 1.7 * ((a * 7) % n_archives) / (n_archives - 1) for a in range(n_archives)]
    sizes = [int(len(sdf_entries) * w / sum(weights)) for w in weights]
    sizes[-1] += len(sdf_entries) - sum(sizes)
    expected: dict[str, Counter] = {}
    base_of: dict[str, int] = {}
    stats = Counter()
    molfiles: dict[int, list[str]] = {}
    cid, pos = 1000, 0
    for a, size in enumerate(sizes):
        parts = []
        archive = f"Compound_{a:03d}.sdf.gz"
        kept = expected[f"pubchem/{archive}"] = Counter()
        for smiles, base in sdf_entries[pos : pos + size]:
            cid += rng.randint(1, 3)
            if base not in molfiles:
                molfiles[base] = _molfile(mols[base], rng)
            r = rng.random()
            kind = "ok"
            if r < malformed_share:
                kind = ("no_cid", "blank_cid", "blank_smiles")[int(r / malformed_share * 3)]
            text, meta = _sdf_record(cid, smiles, mols[base], molfiles[base], rng, kind)
            parts.append(text)
            stats["sdf_generated"] += 1
            stats[f"sdf_{kind}"] += 1
            if meta is not None:
                kept[("pubchem", str(cid), "" if kind == "blank_smiles" else smiles, tuple(sorted(meta.items())))] += 1
                if kind == "ok":
                    base_of[str(cid)] = base
        pos += size
        body = "".join(parts)
        if a % 2 == 0:
            body = body[:-1]  # last record without a trailing newline
        if a % 4 == 1:  # written on Windows
            body = body.replace("\n", "\r\n")
            stats["sdf_crlf_archives"] += 1
        (sdf_dir / archive).write_bytes(gzip.compress(body.encode(), compresslevel=6))
    lines = []
    tranche = "zinc_tranche_AAAA.txt"
    kept = expected[f"zinc/{tranche}"] = Counter()
    for i, (smiles, base) in enumerate(tsv_entries):
        zid = f"ZINC{i:012d}"
        extra = [str(rng.randint(100, 999)), rng.choice(["in-stock", "on-demand", " "])]
        r = rng.random()
        stats["tsv_generated"] += 1
        if r < malformed_share / 3:
            lines.append(smiles)  # too few columns
            stats["tsv_short"] += 1
            continue
        if r < 2 * malformed_share / 3:
            lines.append("\t".join([" ", zid, *extra]))  # blank SMILES
            stats["tsv_blank_smiles"] += 1
            continue
        if r < malformed_share:
            lines.append("")
            stats["tsv_blank_line"] += 1
            continue
        lines.append("\t".join([smiles, zid, *extra]))
        meta = {f"column_{k + 2}": v.strip() for k, v in enumerate(extra) if v.strip()}
        meta["source_file"] = tranche
        kept[("zinc", zid, smiles, tuple(sorted(meta.items())))] += 1
        base_of[zid] = base
    (tsv_dir / tranche).write_text("\n".join(lines) + "\n")
    return expected, base_of, stats


# --------------------------------------------------------------------------
# operator_mix: a TPC-H-style star schema plus events/documents/embeddings,
# with the same schemas and value domains as the engine's testdata (TESTDATA.md).
# --------------------------------------------------------------------------

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")
_WORDS = ("a agg batch big column customer data fast filter group hash join key line merge order part "
          "query row scan slow small sort spark stream table the value vector window").split()


def star_schema(root: Path, seed: int, scale: float) -> dict[str, int]:
    """Write the ten parquet tables under ``root``; return their row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), int(50_000 * scale)
    day = np.datetime64("1995-01-01", "ms")
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32), "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": np.arange(n_cust, dtype=np.int64), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": g.integers(0, 25, n_cust, dtype=np.int32),
                     "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
                     "c_mktsegment": g.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)},
        "supplier": {"s_suppkey": np.arange(n_supp, dtype=np.int64), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": g.integers(0, 25, n_supp, dtype=np.int32),
                     "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n_supp), 2)},
        "part": {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [f"{a} {b}" for a, b in zip(g.choice("blue cold hot large new old red small".split(), n_part),
                                                      g.choice("anvil bolt gear gizmo plate ring rod widget".split(), n_part))],
                 "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
                 "p_type": g.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
                 "p_size": g.integers(1, 51, n_part, dtype=np.int32),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)},
        "orders": {"o_orderkey": np.arange(n_ord, dtype=np.int64), "o_custkey": g.integers(0, n_cust, n_ord),
                   "o_orderstatus": g.choice(["F", "O", "P"], n_ord),
                   "o_totalprice": np.round(g.uniform(1000, 500_000, n_ord), 2),
                   "o_orderdate": day + g.integers(0, 2404, n_ord).astype("timedelta64[D]"),
                   "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)},
    }
    qty = g.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": g.integers(0, n_ord, n_line), "l_partkey": g.integers(0, n_part, n_line),
        "l_suppkey": g.integers(0, n_supp, n_line), "l_linenumber": g.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": qty, "l_extendedprice": np.round(qty * g.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(g.integers(0, 11, n_line) / 100, 2), "l_tax": np.round(g.integers(0, 9, n_line) / 100, 2),
        "l_returnflag": g.choice(["A", "N", "R"], n_line), "l_linestatus": g.choice(["F", "O"], n_line),
        "l_shipdate": day + g.integers(1, 2500, n_line).astype("timedelta64[D]"),
    }
    ev_ts = np.sort(np.datetime64("2024-01-01", "us") + g.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"))
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64), "ts": ev_ts, "user_id": g.integers(0, max(1, n_ev // 66), n_ev),
        "event_type": g.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(g.exponential(50, n_ev) + 0.01, 2), "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
    }
    texts = []
    for i in range(n_doc):
        if i % 10 == 9:  # every tenth document near-duplicates an earlier one
            words = texts[int(g.integers(0, i))].split()
            words[int(g.integers(0, len(words)))] = "dup"
        else:
            words = list(g.choice(_WORDS, int(g.integers(10, 100))))
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": g.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)], "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    emb = g.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": g.integers(0, 10, n_emb, dtype=np.int32),
    }
    root.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name in TABLES:
        cols = tables[name]
        t = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in cols.items()})
        pq.write_table(t, root / f"{name}.parquet")
        counts[name] = t.num_rows
    return counts
