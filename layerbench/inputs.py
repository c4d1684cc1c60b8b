"""Seeded inputs of the three workloads, and independent models of the facts
they must produce.

The models restate, for these two ontologies only, what the OWL-RL core plus
the indirect-type rule derive. They share no code with the engine, so every
run can check the engine's export and the facade's answers exactly, at any
seed.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import numpy as np

TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
SCO = "<http://www.w3.org/2000/01/rdf-schema#subClassOf>"
SPO = "<http://www.w3.org/2000/01/rdf-schema#subPropertyOf>"
SAME = "<http://www.w3.org/2002/07/owl#sameAs>"
TRANSITIVE = "<http://www.w3.org/2002/07/owl#TransitiveProperty>"
IND = "<http://arachne.geneontology.org/indirect_type>"
STRICT = "<http://arachne.geneontology.org/indirect_type_strictSuper>"
HAS_CUST = "<p:hasCust>"
LINKED_TO = "<p:linkedTo>"

N_NATIONS = 25
N_REGIONS = 5


def nt_line(t: tuple[str, str, str]) -> str:
    return f"{t[0]} {t[1]} {t[2]} ."


def strict_closure(edges: list[tuple[str, str]]) -> list[tuple[str, str, str]]:
    """Strict-superclass triples of an acyclic subclass graph."""
    sup = defaultdict(set)
    for a, b in edges:
        sup[a].add(b)

    def ups(c: str) -> set[str]:
        out: set[str] = set()
        for d in sup.get(c, ()):
            out |= {d} | ups(d)
        return out

    return [(c, STRICT, d) for c in list(sup) for d in ups(c)]


# -- tpch_owl / kg_serve -----------------------------------------------------


class TpchData:
    """bench.py's ``kg_materialize`` asserted set over a TPC-H-shaped star.

    The reference tables were drawn from one ``numpy.random.default_rng(42)``
    stream: customer nations first, then 148,000 draws at sf0.1 spent on
    other columns, then each order's customer. Seed ``s`` replays that
    stream from ``default_rng(42 + s)``, so seed 0 gives exactly bench.py's
    input at sf0.1, 0.01 and 0.001 (165,241 triples at sf0.1)."""

    def __init__(self, sf: float, seed: int) -> None:
        n_cust = round(150_000 * sf)
        rng = np.random.default_rng(42 + seed)
        self.nation = rng.integers(0, N_NATIONS, n_cust)
        rng.integers(0, n_cust, round(n_cust * 148_000 / 15_000))
        self.cust_of_order = rng.integers(0, n_cust, 10 * n_cust)
        self.n_cust = n_cust

    def sco_edges(self) -> list[tuple[str, str]]:
        return [(f"<nat{n}>", f"<reg{n % N_REGIONS}>") for n in range(N_NATIONS)] + [
            (f"<reg{r}>", "<world>") for r in range(N_REGIONS)
        ]

    def asserted(self) -> list[tuple[str, str, str]]:
        out = [(f"<c{c}>", TYPE, f"<nat{n}>") for c, n in enumerate(self.nation)]
        out += [(a, SCO, b) for a, b in self.sco_edges()]
        out += [
            (f"<o{o}>", HAS_CUST, f"<c{c}>") for o, c in enumerate(self.cust_of_order)
        ]
        out.append((HAS_CUST, SPO, LINKED_TO))
        out += [(f"<c{c}>", SAME, f"<dup{c}>") for c in range(0, self.n_cust, 97)]
        out += strict_closure(self.sco_edges())
        return out


class TpchModel:
    """The expected fixpoint of a TpchData set plus any applied updates.

    Customers are typed with a nation (duplicates with none); every class of
    owl:sameAs-equal individuals shares the types, indirect types and order
    links of all its members."""

    def __init__(self, data: TpchData) -> None:
        self.nation: dict[str, int | None] = {
            f"<c{c}>": int(n) for c, n in enumerate(data.nation)
        }
        self.orders: dict[str, str] = {
            f"<o{o}>": f"<c{c}>" for o, c in enumerate(data.cust_of_order)
        }
        self.same: list[tuple[str, str]] = []
        for c in range(0, data.n_cust, 97):
            self.nation[f"<dup{c}>"] = None
            self.same.append((f"<c{c}>", f"<dup{c}>"))
        self.tbox = [t for t in data.asserted() if t[1] in (SCO, SPO, STRICT)]
        self._classes: dict[str, list[str]] | None = None

    def add(self, triples: list[tuple[str, str, str]]) -> None:
        for s, p, o in triples:
            if p == TYPE:
                self.nation[s] = int(o[4:-1])
            elif p == HAS_CUST:
                self.orders[s] = o
            elif p == SAME:
                self.same.append((s, o))
            else:
                raise ValueError(f"update triple outside the model: {s} {p} {o}")
        self._classes = None

    def classes(self) -> dict[str, list[str]]:
        """individual -> the members of its owl:sameAs class."""
        if self._classes is None:
            parent = {x: x for x in self.nation}

            def find(x: str) -> str:
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in self.same:
                parent[find(a)] = find(b)
            groups: dict[str, list[str]] = defaultdict(list)
            for x in self.nation:
                groups[find(x)].append(x)
            self._classes = {x: groups[find(x)] for x in self.nation}
        return self._classes

    def types(self, ind: str) -> tuple[set[str], set[str]]:
        """(rdf:type objects, indirect-type objects) of an individual."""
        nats = {self.nation[m] for m in self.classes()[ind]} - {None}
        regs = {n % N_REGIONS for n in nats}
        if not nats:
            return set(), set()
        direct = {f"<nat{n}>" for n in nats} | {f"<reg{r}>" for r in regs}
        ind_t = {f"<reg{r}>" for r in regs} | {"<world>"}
        return direct | {"<world>"}, ind_t

    def linked(self, cust: str) -> set[str]:
        """Orders whose customer is owl:sameAs-equal to ``cust``."""
        members = set(self.classes()[cust])
        return {o for o, c in self.orders.items() if c in members}

    def instances(self, nat: int) -> int:
        cls = f"<nat{nat}>"
        return sum(1 for x in self.nation if cls in self.types(x)[0])

    def facts(self) -> set[str]:
        out = {nt_line(t) for t in self.tbox}
        out |= {nt_line((f"<nat{n}>", SCO, "<world>")) for n in range(N_NATIONS)}
        classes = self.classes()
        done: set[str] = set()
        for x, members in classes.items():
            if x in done:
                continue
            done.update(members)
            direct, ind = self.types(x)
            for m in members:
                out |= {nt_line((m, TYPE, c)) for c in direct}
                out |= {nt_line((m, IND, c)) for c in ind}
                if len(members) > 1:
                    out |= {nt_line((m, SAME, n)) for n in members}
        for o, c in self.orders.items():
            for m in classes[c]:
                out.add(nt_line((o, HAS_CUST, m)))
                out.add(nt_line((o, LINKED_TO, m)))
        return out


def tpch_update(
    model: TpchModel, rng: np.random.Generator, tag: int, n_cust: int
) -> list[tuple[str, str, str]]:
    """One kg_serve write of 3 x n_cust + 1 triples: n_cust new customers,
    each typed with a nation and given an order, n_cust orders of known
    customers, and one owl:sameAs between a new and a known customer."""
    known = [x for x in model.nation if x.startswith("<c")]
    new = [f"<cu{tag}_{k}>" for k in range(n_cust)]
    out = [(c, TYPE, f"<nat{int(n)}>") for c, n in zip(new, rng.integers(0, N_NATIONS, n_cust))]
    targets = new + [known[i] for i in rng.integers(0, len(known), n_cust)]
    out += [(f"<ou{tag}_{k}>", HAS_CUST, c) for k, c in enumerate(targets)]
    out.append((new[0], SAME, known[int(rng.integers(0, len(known)))]))
    return out


# -- code_kg -----------------------------------------------------------------

CODE = "http://example.org/code/"
KIND = f"<{CODE}Kind/"
LANGS = ("python", "scala", "java")
EXTS = {"python": ".py", "scala": ".scala", "java": ".java"}


def code_tbox() -> list[tuple[str, str, str]]:
    """The scaling_bench.py TBox: kind hierarchy, transitive extends,
    calls ⊑ dependsOn."""
    kind_edges = [
        (f"{KIND}class>", f"{KIND}entity>"),
        (f"{KIND}func>", f"{KIND}entity>"),
        (f"{KIND}module>", f"{KIND}entity>"),
        (f"{KIND}entity>", f"{KIND}thing>"),
    ]
    out = [(a, SCO, b) for a, b in kind_edges]
    out.append((f"<{CODE}extends>", TYPE, TRANSITIVE))
    out.append((f"<{CODE}calls>", SPO, f"<{CODE}dependsOn>"))
    return out + strict_closure(kind_edges)


def code_fids(n_files: int, seed: int) -> np.ndarray:
    """The corpus of a seed: ``n_files`` distinct file ids. Seed 0 takes
    ``gen_code_files(n_files)`` whole, which is bench.py's kg_extract_link
    input at n_files = sf x 100,000; seed s > 0 draws them from the first
    4 x n_files."""
    if seed == 0:
        return np.arange(n_files)
    rng = np.random.default_rng(seed)
    return np.sort(rng.choice(4 * n_files, n_files, replace=False))


def code_file_triples(f: int) -> list[tuple[str, str, str]]:
    """What extraction + linking must emit for generated file ``f``
    (kg.datagen's content template, per-language extractors)."""
    lang = LANGS[f % 3]
    u = (f % 997) / 997.0
    repo = f"repo_{math.floor(u * u * 50):04d}"
    commit = hashlib.sha256(f"commit{f}".encode()).hexdigest()[:12]
    file = f"<{CODE}file/{repo}/src/pkg_{f % 13}/mod_{f}{EXTS[lang]}@{commit}>"
    cls, base = f"<{CODE}class/Class_{f % 200}>", f"<{CODE}class/Class_{(f * 7 + 3) % 200}>"
    fn, callee = f"<{CODE}func/Func_{f % 300}>", f"<{CODE}func/Func_{(f * 11 + 5) % 300}>"
    mod = f"<{CODE}module/module_{f % 100}>"
    edges = [("definesClass", cls), ("imports", mod), ("calls", callee)]
    if lang != "java":
        edges.append(("definesFunction", fn))
    if lang == "python":
        edges.append(("extends", base))
    return [(file, f"<{CODE}{p}>", o) for p, o in edges]


def code_model(fids: np.ndarray) -> tuple[set[str], set[str]]:
    """(asserted, facts) as N-Triples lines for a corpus of ``fids``."""
    edges = [t for f in fids for t in code_file_triples(int(f))]
    entities = {o for _, _, o in edges}
    kinds = {e: e[len(CODE) + 1:].split("/")[0] for e in entities}
    asserted = {nt_line(t) for t in edges}
    asserted |= {nt_line((e, TYPE, f"{KIND}{k}>")) for e, k in kinds.items()}
    asserted |= {nt_line(t) for t in code_tbox()}
    facts = set(asserted)
    facts |= {nt_line((f"{KIND}{k}>", SCO, f"{KIND}thing>")) for k in ("class", "func", "module")}
    for e in entities:
        for c in ("entity", "thing"):
            facts.add(nt_line((e, TYPE, f"{KIND}{c}>")))
            facts.add(nt_line((e, IND, f"{KIND}{c}>")))
    facts |= {nt_line((s, f"<{CODE}dependsOn>", o)) for s, p, o in edges if p == f"<{CODE}calls>"}
    return asserted, facts
