"""Every public name, parameter and field in the engine has a caller.

The rule (ROADMAP aim 2): engine code that no registered query, tenant
run, perfbench workload or ``bench.py`` path reaches goes, together
with the tests that only exercise it. This test parses every module of
``mozart_etl_spark/`` and fails naming each public definition that is
referenced nowhere outside its own body in the engine, ``perfbench/``,
``bench.py`` or ``__spark_entry__.py``. A public definition is a
top-level function or class, a method of a top-level class, or a
module-level constant (a name assigned at module level), whose name
does not start with ``_``.

A reference is an ``ast.Name`` or ``ast.Attribute`` that reads the
name. Imports, ``__all__`` strings and assignment targets (a dataclass
field of the same name, say) are not references: re-exporting a
function does not call it. Query functions decorated with
``@register(...)`` are reached through the registry and are exempt.

The same rule holds for settable values: every defaulted parameter of
a public function or method, and every defaulted field of a public
dataclass, must be passed by at least one call in those files, outside
the function's own body. A call passes a value by keyword, by
position, or through ``*args`` / ``**kwargs``; a call names its
callee by name (``f(...)``, ``obj.f(...)``, ``Class(...)`` for a
dataclass field or an ``__init__`` parameter), and ``cls(...)`` inside
a class body calls that class. Passing the default literal itself
does not set a value: it spells out the constant. Any other argument
does, a variable or an expression included. A callee name defined more
than once in those files (``run``, say) may reach any of its
definitions, so for it only a keyword pass counts. A value no caller
sets is a constant with a knob on it: it goes, with the branches it
needed.

A value every such call pins to one and the same non-default literal
fails too: its default selects a path no caller takes. The calls use
the default when they omit the value or pass the default literal; a
variable, an expression, ``*args`` or ``**kwargs`` varies; for a callee
name defined more than once, a call without a keyword pass is no
evidence either way. The pinned literal becomes the engine's constant
and the default's branch goes.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "mozart_etl_spark"

#: Public names (``Class.method`` for a method) kept without an engine
#: caller, each with its reason.
EXCEPTIONS = {
    # the reference connector's probe contract (``base.py:95-103``):
    # a deployment checks a source before it extracts
    "test_connection": "sources.reader connection probe",
    # gates the native MERGE INTO path, which needs a lakehouse jar;
    # its test skips where none is installed
    "lakehouse_available": "writers lakehouse capability check",
    # the reference's per-tenant ``tenant.yaml`` (tenant discovery): a
    # deployment loads one file per tenant; the engine and perfbench
    # build their specs in code
    "TenantSpec.from_yaml": "config tenant.yaml loader",
}

#: Defaulted parameters (``function(param)``) and dataclass fields
#: (``Class.field``) kept without a caller that sets them, each with
#: its reason.
SETTABLE_EXCEPTIONS = {
    # deployment settings
    "get_spark(shuffle_partitions)": "tests/conftest.py and tools/ size the shuffle",
    "hourly_counts_stream(event_time_ceiling)": (
        "a wall-clock bound on event time that only a deployment can choose"
    ),
    "TenantPipeline.env": "the reference's dev_ namespace prefix (COVERAGE O9)",
    # the reference's per-run dbt --vars with plan_ver
    # (``_tenant_factory.py:364-371``)
    "TenantPipeline.run_vars": "per-run model variables (COVERAGE O10)",
    # every engine caller pins one clock, but a deployment runs on the
    # wall clock (None); the querybank and perfbench freeze it
    "TenantPipeline.frozen_clock": "a deployment runs on the wall clock",
    # values a test samples or sets apart from the engine's: fixing them
    # would narrow the test
    "global_running_sum(num_partitions)": "property test samples the partition count",
    "minhash_lsh_pairs(seed)": "property test samples the seed",
    "lsh_knn(seed)": "property test samples the seed",
    "lsh_near_dup_pairs(seed)": "property test samples the seed",
    "jaccard_verify_pairs(n)": "property test samples the shingle width",
    "salted_join(n_salts)": (
        "test_plan_guards.py::test_salted_join_spreads_hot_key sets the salt count"
    ),
    "sample_temperature(tau)": (
        "test_corpus.py::test_sample_temperature_keeps_null_stratum keeps every row at tau 1"
    ),
    "sample_temperature(budget_frac)": (
        "test_corpus.py::test_sample_temperature_keeps_null_stratum keeps every row at budget 1"
    ),
    "ngram_jaccard_pairs(n)": (
        "test_dedup_hash_properties.py::test_ngram_jaccard_pairs_match_python_sets samples the "
        "shingle width"
    ),
    "repeated_spans(n)": (
        "test_corpus.py::test_repeated_span_discovery_and_removal_semantics plants a 4-word span"
    ),
    "remove_repeated_spans(n)": (
        "test_corpus_properties.py::test_remove_repeated_spans_matches_python_model samples the "
        "span width"
    ),
    "minhash_lsh_pairs(n)": (
        "test_knn_properties.py::test_minhash_lsh_pairs_match_python_model sets the shingle width"
    ),
    "minhash_lsh_pairs(num_perm)": (
        "test_knn_properties.py::test_minhash_lsh_pairs_match_python_model sets the permutations"
    ),
    "minhash_lsh_pairs(bands)": (
        "test_knn_properties.py::test_minhash_lsh_pairs_match_python_model sets the band count"
    ),
    "funnel_stage_times(stages)": (
        "test_corpus.py::test_funnel_custom_stage_chains varies the stages"
    ),
    "brute_force_knn(k)": (
        "test_knn_properties.py's corrupt-vector tests rank k = 1..3 over four-row inputs"
    ),
    "ivf_knn(k)": "test_knn_properties.py::test_ivf_knn_matches_python_model samples k",
    "ivf_knn(nprobe)": "test_knn_properties.py::test_ivf_knn_matches_python_model samples nprobe",
    "lsh_knn(k)": "test_knn_properties.py::test_lsh_knn_matches_python_model samples k",
    "lsh_near_dup_pairs(threshold)": (
        "test_knn_properties.py::test_lsh_near_dup_pairs_match_python_model scores at 0.9"
    ),
    "cap_per_group(salt_buckets)": (
        "test_corpus_properties.py::test_cap_per_group_matches_python_model samples the salt "
        "count"
    ),
    "sessionize_stream(gap)": (
        "test_backends.py::test_sessionize_last_event_is_the_session_max_ts samples the gap"
    ),
}


def _caller_files() -> list[Path]:
    files = sorted(ENGINE.rglob("*.py")) + sorted((ROOT / "perfbench").rglob("*.py"))
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _is_registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        func = dec.func if isinstance(dec, ast.Call) else dec
        if (isinstance(func, ast.Name) and func.id == "register") or (
            isinstance(func, ast.Attribute) and func.attr == "register"
        ):
            return True
    return False


def _public_defs(tree: ast.Module) -> list[tuple[str, str, ast.AST]]:
    """(label, name, defining node) of every public definition."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.name.startswith("_") and not _is_registered(node):
                out.append((node.name, node.name, node))
            if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                out += [
                    (f"{node.name}.{m.name}", m.name, m)
                    for m in node.body
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not m.name.startswith("_")
                ]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [
                (t.id, t.id, node)
                for t in targets
                if isinstance(t, ast.Name) and not t.id.startswith("_")
            ]
    return out


def _references(trees: dict[Path, ast.Module]) -> dict[str, list[tuple[Path, int]]]:
    """name -> (file, line) of every Name and Attribute that reads it."""
    refs: dict[str, list[tuple[Path, int]]] = {}
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if not isinstance(getattr(node, "ctx", None), ast.Load):
                continue
            if isinstance(node, ast.Name):
                refs.setdefault(node.id, []).append((path, node.lineno))
            elif isinstance(node, ast.Attribute):
                refs.setdefault(node.attr, []).append((path, node.lineno))
    return refs


def unreferenced() -> list[str]:
    """``module::name`` of every public engine definition with no
    reference outside its own body."""
    trees = {path: ast.parse(path.read_text(), str(path)) for path in _caller_files()}
    refs = _references(trees)
    dead = []
    for path, tree in trees.items():
        if ENGINE not in path.parents:
            continue
        for label, name, node in _public_defs(tree):
            first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
            if all(
                p == path and first <= line <= node.end_lineno
                for p, line in refs.get(name, [])
            ):
                dead.append(f"{path.relative_to(ROOT)}::{label}")
    return sorted(dead)


def test_every_public_engine_name_has_a_caller():
    dead = unreferenced()
    names = {d.rsplit("::", 1)[1] for d in dead}
    unexpected = [d for d in dead if d.rsplit("::", 1)[1] not in EXCEPTIONS]
    header = "public engine code with no caller outside the tests:\n"
    assert not unexpected, header + "\n".join(unexpected)
    # an exception that gained a caller, or whose code is gone, is stale
    assert set(EXCEPTIONS) <= names, sorted(set(EXCEPTIONS) - names)


def _decorated(node: ast.AST, name: str) -> bool:
    for dec in getattr(node, "decorator_list", []):
        func = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(func, "id", None) == name or getattr(func, "attr", None) == name:
            return True
    return False


def _settable(tree: ast.Module) -> list[tuple[str, str, int | None, str, ast.AST, ast.AST]]:
    """(label, callee, position, name, default, owner) of every
    defaulted parameter of a public function or method and every
    defaulted field of a public dataclass. ``callee`` is the name a call
    uses; ``position`` is the value's positional index in such a call
    (None for keyword-only); ``default`` is the default expression;
    ``owner`` is the function, or the class for a field."""
    out = []

    def params(fn: ast.AST, callee: str, label: str, skip_first: bool) -> None:
        a = fn.args
        positional = a.posonlyargs + a.args
        first_default = len(positional) - len(a.defaults)
        shift = 1 if skip_first else 0
        for i, arg in enumerate(positional):
            if i >= first_default:
                default = a.defaults[i - first_default]
                out.append((f"{label}({arg.arg})", callee, i - shift, arg.arg, default, fn))
        for arg, default in zip(a.kwonlyargs, a.kw_defaults):
            if default is not None:
                out.append((f"{label}({arg.arg})", callee, None, arg.arg, default, fn))

    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if not node.name.startswith("_") and not _is_registered(node):
                params(node, node.name, node.name, False)
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            if _decorated(node, "dataclass"):
                fields = [
                    s
                    for s in node.body
                    if isinstance(s, ast.AnnAssign)
                    and isinstance(s.target, ast.Name)
                    and "ClassVar" not in ast.unparse(s.annotation)
                ]
                for i, s in enumerate(fields):
                    if s.value is not None and not s.target.id.startswith("_"):
                        label = f"{node.name}.{s.target.id}"
                        out.append((label, node.name, i, s.target.id, s.value, node))
            for m in node.body:
                if not isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                if m.name == "__init__":
                    params(m, node.name, node.name, True)
                elif not m.name.startswith("_"):
                    params(m, m.name, f"{node.name}.{m.name}", not _decorated(m, "staticmethod"))
    return out


def _calls(trees: dict[Path, ast.Module]) -> dict[str, list[tuple[Path, ast.Call]]]:
    """callee name -> (file, call) of every call in ``trees``. A call
    through ``name(...)`` or ``obj.name(...)`` files under ``name``;
    ``cls(...)`` inside a class body files under that class."""
    calls: dict[str, list[tuple[Path, ast.Call]]] = {}

    def visit(path: Path, node: ast.AST, cls: str | None) -> None:
        if isinstance(node, ast.ClassDef):
            cls = node.name
        if isinstance(node, ast.Call):
            name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
            if name == "cls" and cls is not None:
                name = cls
            if name is not None:
                calls.setdefault(name, []).append((path, node))
        for child in ast.iter_child_nodes(node):
            visit(path, child, cls)

    for path, tree in trees.items():
        visit(path, tree, None)
    return calls


def _literal(node: ast.AST) -> tuple[type, str] | None:
    """(type, repr) of a literal expression's value; None if it is not
    a literal."""
    try:
        value = ast.literal_eval(node)
    except (ValueError, TypeError):
        return None
    return type(value), repr(value)


#: A value passed through something other than a literal: a variable, an
#: expression, ``*args`` or ``**kwargs``.
_VARIES = "varies"
#: The default: a call omits the value or passes the default literal.
_DEFAULT = "default"


def _passed(arg: ast.AST, default: ast.AST) -> object:
    """The value that passing ``arg`` uses where the default is
    ``default``."""
    value = _literal(arg)
    if value is None:
        return _VARIES
    return _DEFAULT if value == _literal(default) else value


def _value(
    call: ast.Call, position: int | None, name: str, default: ast.AST, by_keyword_only: bool
) -> object:
    """The value ``call`` uses at ``position`` / ``name``: ``_DEFAULT``,
    ``_VARIES``, or the ``_literal`` of a non-default literal. With
    ``by_keyword_only`` (a callee name defined more than once in the
    caller files, so a call may reach another definition) a call that
    does not pass the value by keyword may reach another definition and
    is no evidence: None."""
    for k in call.keywords:
        if k.arg is None:
            return _VARIES
        if k.arg == name:
            return _passed(k.value, default)
    if by_keyword_only:
        return None
    if position is not None:
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                return _VARIES if i <= position else _DEFAULT
            if i == position:
                return _passed(arg, default)
    return _DEFAULT


def _definition_counts(trees: dict[Path, ast.Module]) -> Counter[str]:
    """name -> number of functions, methods and classes of that name."""
    defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    return Counter(
        node.name for tree in trees.values() for node in ast.walk(tree) if isinstance(node, defs)
    )


def used_values(files: list[Path], engine: Path) -> dict[str, set[object]]:
    """``module::label`` -> the ``_value`` each call in ``files`` outside
    its own function uses, for every defaulted public parameter or
    dataclass field in ``engine``."""
    trees = {path: ast.parse(path.read_text(), str(path)) for path in files}
    calls = _calls(trees)
    counts = _definition_counts(trees)
    used = {}
    for path, tree in trees.items():
        if engine not in path.parents:
            continue
        for label, callee, position, name, default, owner in _settable(tree):
            own_body = isinstance(owner, (ast.FunctionDef, ast.AsyncFunctionDef))
            values = {
                _value(call, position, name, default, counts[callee] > 1)
                for p, call in calls.get(callee, [])
                if not (own_body and p == path and owner.lineno <= call.lineno <= owner.end_lineno)
            }
            used[f"{path.relative_to(engine.parent)}::{label}"] = values - {None}
    return used


def unpassed(files: list[Path], engine: Path) -> list[str]:
    """``module::label`` of every defaulted public parameter or dataclass
    field in ``engine`` that no call in ``files`` outside its own
    function sets to anything but its default."""
    return sorted(k for k, values in used_values(files, engine).items() if values <= {_DEFAULT})


def pinned(files: list[Path], engine: Path) -> list[str]:
    """``module::label`` of every defaulted public parameter or dataclass
    field in ``engine`` whose calls in ``files`` outside its own function
    all pass one and the same non-default literal: the default selects a
    path no caller takes."""
    return sorted(
        k
        for k, values in used_values(files, engine).items()
        if len(values) == 1 and not values & {_DEFAULT, _VARIES}
    )


def _unexpected(flagged: list[str]) -> list[str]:
    return [d for d in flagged if d.rsplit("::", 1)[1] not in SETTABLE_EXCEPTIONS]


def test_every_defaulted_parameter_and_field_has_a_caller():
    files = _caller_files()
    dead = unpassed(files, ENGINE)
    header = "defaulted engine parameters and fields no caller outside the tests sets:\n"
    assert not _unexpected(dead), header + "\n".join(_unexpected(dead))
    # an exception that gained a second value in use, or whose code is
    # gone, is stale
    labels = {d.rsplit("::", 1)[1] for d in dead + pinned(files, ENGINE)}
    assert set(SETTABLE_EXCEPTIONS) <= labels, sorted(set(SETTABLE_EXCEPTIONS) - labels)


def test_no_defaulted_value_is_pinned_to_one_literal():
    single = _unexpected(pinned(_caller_files(), ENGINE))
    header = "defaulted engine parameters and fields every caller pins to one literal:\n"
    assert not single, header + "\n".join(single)


_SYNTHETIC_ENGINE = """
from dataclasses import dataclass, field


def unset(a, b=1):
    return unset(a, b=b)


def by_keyword(a, b=1):
    pass


def by_position(a, b=1, *, c=2):
    pass


def by_star_args(a, b=1):
    pass


def by_star_kwargs(a, *, b=1):
    pass


def default_by_keyword(a, b=1):
    pass


def default_by_position(a, b="x"):
    pass


def by_variable(a, b=1):
    pass


def by_other_literal(a, b=(1, 2)):
    pass


def one_literal(a, b=1):
    pass


def two_literals(a, b=1):
    pass


def literal_and_omitted(a, b=1):
    pass


def literal_and_variable(a, b=1):
    pass


@dataclass
class Spec:
    name: str
    kept: int = 0
    unset_field: int = 0
    items: list = field(default_factory=list)

    @classmethod
    def build(cls, n):
        return cls("x", n)


class Runner:
    def __init__(self, spark, width=4):
        self.width = width

    def go(self, flag=False):
        pass


class Models:
    def run(self, select=None, dry=False):
        pass


class Pipeline:
    def run(self, spark):
        pass
"""

_SYNTHETIC_CALLER = """
from pkg import mod

mod.unset(1)
mod.by_keyword(1, b=2)
mod.by_position(1, 2, c=3)
mod.by_star_args(*(1, 2))
mod.by_star_kwargs(1, **{"b": 2})
mod.Spec.build(1)
mod.Spec("y", items=[])
mod.Runner(None, 8).go(True)
mod.default_by_keyword(1, b=1)
mod.default_by_position(1, "x")
mod.by_variable(1, b=width)
mod.by_other_literal(1, (1, 3))
mod.Pipeline().run(spark)
mod.Models().run(dry=True)
mod.Models().run(None, False)
mod.one_literal(1, b=2)
mod.one_literal(1, 2)
mod.two_literals(1, b=2)
mod.two_literals(1, b=3)
mod.literal_and_omitted(1, b=2)
mod.literal_and_omitted(1)
mod.literal_and_variable(1, b=2)
mod.literal_and_variable(1, b=width)
"""


def test_settable_scan_on_a_synthetic_module(tmp_path):
    """The scan flags a parameter no caller passes (a recursive call
    inside the function does not count), a dataclass field no caller
    sets, a keyword and a positional pass of the default literal, and a
    positional pass to a method name two classes define; it accepts a
    keyword, a positional, a ``*args``, a ``**kwargs`` and a
    ``cls(...)`` call, a non-default literal, a variable, and a keyword
    pass to a method name two classes define."""
    engine = tmp_path / "pkg"
    engine.mkdir()
    (engine / "mod.py").write_text(_SYNTHETIC_ENGINE)
    (tmp_path / "caller.py").write_text(_SYNTHETIC_CALLER)
    files = [engine / "mod.py", tmp_path / "caller.py"]
    assert unpassed(files, engine) == [
        "pkg/mod.py::Models.run(select)",
        "pkg/mod.py::Spec.unset_field",
        "pkg/mod.py::default_by_keyword(b)",
        "pkg/mod.py::default_by_position(b)",
        "pkg/mod.py::unset(b)",
    ]
    # one non-default literal at every call is flagged; two literals, a
    # literal plus an omitted value, a literal plus a variable, and a
    # literal plus a passed default (``Spec.items``) are not; a
    # positional pass to a method name two classes define decides
    # nothing, so ``Models.run(dry)`` stays pinned to ``True``
    assert pinned(files, engine) == [
        "pkg/mod.py::Models.run(dry)",
        "pkg/mod.py::Runner(width)",
        "pkg/mod.py::Runner.go(flag)",
        "pkg/mod.py::by_keyword(b)",
        "pkg/mod.py::by_other_literal(b)",
        "pkg/mod.py::by_position(b)",
        "pkg/mod.py::by_position(c)",
        "pkg/mod.py::one_literal(b)",
    ]
    # without the caller, every defaulted value is flagged except the
    # one ``cls(...)`` sets
    assert unpassed(files[:1], engine) == [
        "pkg/mod.py::Models.run(dry)",
        "pkg/mod.py::Models.run(select)",
        "pkg/mod.py::Runner(width)",
        "pkg/mod.py::Runner.go(flag)",
        "pkg/mod.py::Spec.items",
        "pkg/mod.py::Spec.unset_field",
        "pkg/mod.py::by_keyword(b)",
        "pkg/mod.py::by_other_literal(b)",
        "pkg/mod.py::by_position(b)",
        "pkg/mod.py::by_position(c)",
        "pkg/mod.py::by_star_args(b)",
        "pkg/mod.py::by_star_kwargs(b)",
        "pkg/mod.py::by_variable(b)",
        "pkg/mod.py::default_by_keyword(b)",
        "pkg/mod.py::default_by_position(b)",
        "pkg/mod.py::literal_and_omitted(b)",
        "pkg/mod.py::literal_and_variable(b)",
        "pkg/mod.py::one_literal(b)",
        "pkg/mod.py::two_literals(b)",
        "pkg/mod.py::unset(b)",
    ]
    assert pinned(files[:1], engine) == []
