"""Every package definition and every option is used by an entry point.

A pure-Python AST scan, no Spark. Roots: ``cli.main``, every ``@q(...)``
registry query, the package's module-level statements (with the decorators
and defaults of module-level functions), and all of ``__spark_entry__.py``,
``bench.py`` and ``perfbench/*.py`` but ``perfbench/test_*.py``. Edges: a
name resolves through its module's definitions and its imports (also
function-local ones), ``mod.attr`` on a package module to that definition,
``x.attr`` on any other receiver to every package method named ``attr``,
and a class reaches its methods. ``__all__``, docstrings and comments are
not references.

An option is a parameter with a constant default that selects a branch: it
is named in the test of an ``if``, ``while``, conditional expression,
``assert`` or comprehension filter, in an ``and``/``or`` operand, or passed
on to such a parameter. A reached call gives it the literal it passes, the
default when it passes nothing, or every value of its own function's
parameter that it forwards; any other expression, and a ``*``/``**`` splat,
counts as a second value. Column-name parameters with a string default are
out of scope.

Two findings fail unless a keep-list names them with a reason: a definition
no root reaches, and an option every reached call leaves at one value.
``python tests/test_reach.py`` prints both, with each option's value. When
this test was added it found 19 definitions and 51 options: 2 definitions
were deleted and 38 options folded into their one value.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "hrdp_variant_load_pipeline_spark"
SCRIPTS = ["__spark_entry__.py", "bench.py"] + sorted(
    f"perfbench/{p.name}"
    for p in (ROOT / "perfbench").glob("*.py")
    if not p.name.startswith("test_")
)
OTHER = "<expr>"  # a value the scan cannot name
COLUMN = re.compile(r"(^|_)(col|cols|column|columns)$")

#: definitions no root reaches, kept on purpose
KEEP_UNREACHED = {
    "__version__": "package metadata",
    "schemas.GENE": "the gene schema contract the tests build fixtures from",
    "sources.tables.TABLE_NAMES": "the table-name contract the tests build fixtures from",
    "sources.tables.invalidate_tables": "bench.py reaches it through tools/make_scaled_sf.py",
    "operators.pq.train_pq_codebooks": "the fixture of every tests/test_pq.py test",
    "operators.pq._subvectors": "a helper of train_pq_codebooks",
    "operators.dedup.minhash_signatures": "the reference the LSH signatures are checked against",
    "operators.multimodal.embed_payloads": "a tests/test_corpus_io.py fixture",
    "operators.multimodal.EMBED_SCHEMA": "the schema of embed_payloads",
    "sources.sinks.write_jdbc": "the reference's own Oracle target",
    "sources.sinks.rgd_ids_registry": "the reference's own Oracle target",
    "sources.sinks.split_variant_sinks": "the reference's own Oracle target",
    "operators.interval_join.interval_join": "the reference the binned join is checked against",
    "operators.text_index.verify_text_index": "the integrity check of an index without batch_key",
    "operators.classifier.apply_logreg": "a gate the README cookbook composes",
    "operators.corpus.url_curation_keys": "a gate the README cookbook composes",
    "operators.corpus.sample_n_per_group": "a gate the README cookbook composes",
}

#: options every reached call leaves at one value, kept on purpose
KEEP_OPTIONS = {
    "operators.text_index.append_text_index_batch(batch_key)": "replay idempotency",
    "operators.corpus.pack_sequences(allow_global_order)": "a guard on outside input",
    "operators.text_index.text_index_scores(n_buckets)": "a guard on outside input",
    "operators.skew.pre_aggregated_join(mode)": "tools/skew_drill.py compares the modes",
    "operators.skew.pre_aggregated_join(finishing)": "tools/skew_drill.py compares the modes",
    "operators.corpus.pack_sequences(order_col)": "a column name",
    "operators.dsir.bucket_logratio(raw_buckets_col)": "a column name",
    "operators.dsir.dsir_log_weight(buckets_col)": "a column name",
    "sources.sinks.write_bucketed_store(sort_cols)": "column names",
    # next candidates: only tests use a second value
    "operators.similarity.ivf_topk(centroids)": "the ANN store probe is checked against it",
    "operators.similarity.train_centroids(centroid_round_digits)": "tests train unrounded",
    "operators.skew.pre_aggregated_join(how)": "tests pin its refusals",
    "operators.timeseries.resample_interpolate(how)": "tests pin forward fill",
}


def _literal(node: ast.AST) -> str | None:
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError):
        return None


class _Module:
    """A parsed file: its definitions (``f``, ``C``, ``C.m``, ``NAME``),
    the nodes run at import, and the ``(module, attr)`` its imports bind."""

    def __init__(self, name: str, tree: ast.Module, script: bool):
        self.name, self.defs, self.roots, self.binds = name, {}, [], {}
        for node in tree.body:
            if script:
                self.roots.append(node)
            elif isinstance(node, ast.FunctionDef):
                self.defs[node.name] = node
                a = node.args
                self.roots += node.decorator_list + a.defaults + [d for d in a.kw_defaults if d]
            elif isinstance(node, ast.ClassDef):
                self.defs[node.name] = node
                self.roots += node.decorator_list + node.bases
                for f in node.body:
                    if isinstance(f, ast.FunctionDef):
                        self.defs[f"{node.name}.{f.name}"] = f
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = {t.id for t in targets if isinstance(t, ast.Name)}
                self.defs.update(dict.fromkeys(names - {"__all__"}, node))
                if not names:
                    self.roots.append(node)
            elif not (isinstance(node, ast.Expr) and _literal(node.value)):  # docstring
                self.roots.append(node)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                self.binds.update({a.asname or a.name: (node.module, a.name) for a in node.names})
            elif isinstance(node, ast.Import):
                for a in node.names:
                    name = a.asname or a.name.split(".")[0]
                    self.binds[name] = (a.name if a.asname else name, None)


class Scan:
    def __init__(self):
        self.mods = {}
        for p in (ROOT / PKG).rglob("*.py"):
            name = ".".join(p.relative_to(ROOT / PKG).with_suffix("").parts)
            name = name.removesuffix("__init__").rstrip(".")
            self.mods[name] = _Module(name, ast.parse(p.read_text()), False)
        for s in SCRIPTS:
            self.mods[s] = _Module(s, ast.parse((ROOT / s).read_text()), True)
        self.methods: dict[str, list[str]] = {}  # method name -> ids
        for m in self.mods.values():
            for key in m.defs:
                if "." in key:
                    self.methods.setdefault(key.split(".")[1], []).append(f"{m.name}:{key}")
        self.reached = self._reach()

    def fn(self, def_id: str):
        mod, key = def_id.split(":")
        node = self.mods[mod].defs[key]
        return node if isinstance(node, ast.FunctionDef) else None

    def _resolve(self, module: str | None, attr: str | None, depth: int = 0):
        """``("mod", name)`` or ``("def", id)`` for what an import binds,
        None outside the package."""
        if module != PKG and not (module or "").startswith(PKG + "."):
            return None
        short = module[len(PKG) + 1 :]
        sub = f"{short}.{attr}".strip(".") if attr else short
        if sub in self.mods:
            return ("mod", sub)
        m = self.mods.get(short)
        if m is None or attr is None:
            return None
        if attr in m.defs:
            return ("def", f"{short}:{attr}")
        if attr in m.binds and depth < 5:  # a re-export
            return self._resolve(*m.binds[attr], depth + 1)
        return None

    def targets(self, m: _Module, node: ast.AST) -> tuple[list[str], bool]:
        """The definitions a name or attribute may be, and whether they are
        methods found through a receiver the scan cannot type."""
        if isinstance(node, ast.Name):
            got = ("def", f"{m.name}:{node.id}") if node.id in m.defs else None
            if got is None and node.id in m.binds:
                got = self._resolve(*m.binds[node.id])
            return ([got[1]] if got and got[0] == "def" else []), False
        if isinstance(node, ast.Attribute):
            if isinstance(node.value, ast.Name) and node.value.id in m.binds:
                got = self._resolve(*m.binds[node.value.id])
                if got and got[0] == "mod":
                    got = self._resolve(f"{PKG}.{got[1]}".rstrip("."), node.attr)
                    return ([got[1]] if got and got[0] == "def" else []), False
            return self.methods.get(node.attr, []), True
        return [], False

    # -- reachability -------------------------------------------------------

    def _refs(self, m: _Module, nodes) -> set[str]:
        return {
            t
            for top in nodes
            for n in ast.walk(top)
            if isinstance(n, ast.Attribute) or isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            for t in self.targets(m, n)[0]
        }

    def _reach(self) -> set[str]:
        todo = ["cli:main"]
        for m in self.mods.values():
            todo += self._refs(m, m.roots)
            todo += [
                f"{m.name}:{k}"
                for k, n in m.defs.items()
                if isinstance(n, ast.FunctionDef)
                and any(getattr(getattr(d, "func", None), "id", None) == "q" for d in n.decorator_list)
            ]
        seen: set[str] = set()
        while todo:
            d = todo.pop()
            if d in seen:
                continue
            seen.add(d)
            mod, key = d.split(":")
            node = self.mods[mod].defs[key]
            if isinstance(node, ast.ClassDef):  # its own statements, then its methods
                body = [s for s in node.body if not isinstance(s, ast.FunctionDef)]
                todo += [f"{mod}:{k}" for k in self.mods[mod].defs if k.startswith(key + ".")]
            else:
                body = node.body if isinstance(node, ast.FunctionDef) else [node.value]
            todo += self._refs(self.mods[mod], [b for b in body if b is not None])
        return seen

    def unreached(self) -> list[str]:
        return sorted(
            f"{m.name}.{k}".lstrip(".")
            for m in self.mods.values()
            if m.name not in SCRIPTS
            for k in m.defs
            if f"{m.name}:{k}" not in self.reached
        )

    # -- options ------------------------------------------------------------

    def _calls(self, scopes):
        """``(owner, callee, {parameter: argument}, splat)`` per call to a
        reached function, ``owner`` the reached function it sits in."""
        for m, owner, top in scopes:
            for call in ast.walk(top):
                if not isinstance(call, ast.Call):
                    continue
                ids, untyped = self.targets(m, call.func)
                splat = any(isinstance(a, ast.Starred) for a in call.args)
                splat |= any(k.arg is None for k in call.keywords)
                for t in ids:
                    f = self.fn(t) if t in self.reached else None
                    if f is None:
                        continue
                    params = [a.arg for a in f.args.posonlyargs + f.args.args]
                    params = params[1:] if untyped or "." in t.split(":")[1] else params
                    args = dict(zip(params, [a for a in call.args if not isinstance(a, ast.Starred)]))
                    args.update({k.arg: k.value for k in call.keywords if k.arg})
                    yield owner, t, args, splat

    def options(self) -> dict[tuple[str, str], set[str]]:
        """``(function id, option)`` -> the values reached calls give it."""
        scopes = [(m, None, n) for m in self.mods.values() for n in m.roots]
        branching: dict[str, set[str]] = {}
        for d in self.reached:
            if (f := self.fn(d)) is None:
                continue
            scopes.append((self.mods[d.split(":")[0]], d, f))
            tests = []
            for n in ast.walk(f):
                if isinstance(n, (ast.If, ast.While, ast.IfExp, ast.Assert)):
                    tests.append(n.test)
                tests += n.ifs if isinstance(n, ast.comprehension) else []
                tests += n.values if isinstance(n, ast.BoolOp) else []
            branching[d] = {n.id for t in tests for n in ast.walk(t) if isinstance(n, ast.Name)}
        calls = list(self._calls(scopes))
        changed = True
        while changed:  # a parameter passed on to a branching one branches too
            changed = False
            for owner, t, args, _ in calls:
                for p, a in args.items():
                    if owner and p in branching[t] and isinstance(a, ast.Name):
                        changed |= a.id not in branching[owner]
                        branching[owner].add(a.id)
        opts = {}  # function id -> {option: default}
        for d, names in branching.items():
            a = self.fn(d).args
            pos = a.posonlyargs + a.args
            pairs = list(zip(pos[len(pos) - len(a.defaults) :], a.defaults))
            pairs += [(p, v) for p, v in zip(a.kwonlyargs, a.kw_defaults) if v]
            mod = self.mods[d.split(":")[0]]
            for p, v in pairs:
                value = _literal(v) or (v.id if isinstance(v, ast.Name) and v.id in mod.defs else None)
                if COLUMN.search(p.arg) and isinstance(v, ast.Constant) and isinstance(v.value, str):
                    continue  # a column name
                if p.arg in names and value is not None:
                    opts.setdefault(d, {})[p.arg] = value
        values = {(d, p): set() for d, o in opts.items() for p in o}
        forwards = []
        for owner, t, args, splat in calls:
            for p, default in opts.get(t, {}).items():
                a = args.get(p)
                if isinstance(a, ast.Name) and a.id in opts.get(owner, {}):
                    forwards.append(((t, p), (owner, a.id)))
                elif a is not None:
                    values[(t, p)].add(_literal(a) or OTHER)
                else:
                    values[(t, p)].add(OTHER if splat else default)
        for (d, p), vals in values.items():  # a reached function no call names
            if not vals and all(k != (d, p) for k, _ in forwards):
                vals.add(opts[d][p])
        changed = True
        while changed:
            changed = False
            for key, src in forwards:
                changed |= not values[src] <= values[key]
                values[key] |= values[src]
        return values

    def single_valued(self) -> dict[str, str]:
        """``module.function(option)`` -> the one value reached calls give it."""
        return {
            f"{d.replace(':', '.')}({p})".lstrip("."): next(iter(vals))
            for (d, p), vals in sorted(self.options().items())
            if len(vals) == 1 and OTHER not in vals
        }


SCAN = Scan()


def test_every_definition_is_reached_from_an_entry_point():
    found = SCAN.unreached()
    assert not sorted(set(found) - set(KEEP_UNREACHED)), "reached by no entry point"
    assert not sorted(set(KEEP_UNREACHED) - set(found)), "stale keep-list entries"


def test_every_option_takes_two_values_from_reached_calls():
    found = SCAN.single_valued()
    assert not sorted(set(found) - set(KEEP_OPTIONS)), "options every caller leaves at one value"
    assert not sorted(set(KEEP_OPTIONS) - set(found)), "stale keep-list entries"


if __name__ == "__main__":
    for title, found, kept in (
        ("unreached definitions", dict.fromkeys(SCAN.unreached(), ""), KEEP_UNREACHED),
        ("single-valued options", SCAN.single_valued(), KEEP_OPTIONS),
    ):
        print(f"{title}: {len(found)} ({len(set(found) - set(kept))} not kept)")
        for f, value in found.items():
            print(f"  {f}{f' = {value}' if value else ''}{'  (kept)' if f in kept else ''}")
