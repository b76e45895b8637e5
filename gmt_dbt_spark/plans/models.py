"""dbt-style model DAG runner — SURVEY.md §3.2.

The reference's transform layer is a dbt project (`dbt_project.yml:1`)
of SQL models with Jinja directives, compiled and executed against
BigQuery with 4 threads (`profile.yml:9`). This module hosts the same
model surface on Spark:

  - a **Model** = (name, sql, config), where the SQL may use the
    dbt directives the reference's models use —
    ``{{ config(materialized='table') }}``
    (`models/yelp/bronze_yelp_academic_dataset_business.sql:1-3`) and
    ``{{ source('schema', 'table') }}`` (`:7`) — plus ``{{ ref('m') }}``
    for model-to-model edges (the general dbt contract; the
    reference's 8 bronze models happen to have no ref edges).
  - **compile**: Jinja-lite regex rendering (no template engine
    dependency): config() is stripped into node config, source() is
    resolved against a source mapping (the analogue of
    `models/yelp/source.yml`), ref() against sibling models.
  - **execute**: topological order from ref-edges, independent models
    submitted concurrently via ``ThreadPoolExecutor(threads)`` —
    mirroring dbt's 4-thread scheduling; Spark's FAIR-capable
    scheduler handles intra-job parallelism.
  - **materialize**: ``table`` → parquet CTAS into the project's
    warehouse dir + re-registered as a view over the materialized
    copy (dbt `materialized='table'`, `dbt_project.yml:28`);
    ``view`` → temp view (dbt's default materialization);
    ``incremental`` → first run CTAS, later runs MERGE-on-unique_key
    via the engine's merge_upsert (dbt's incremental contract fused
    with the reference's `gcp_function.py` MERGE), with
    ``{{ this }}`` / ``is_incremental()`` resolved per-run. At
    cluster scale the parquet write is any Hadoop-FS URI and
    `partition_by` date keys give downstream partition pruning.

Divergence from the reference, by design (SURVEY.md §3.2): the
reference models embed their own ``create table .. as`` DDL inside
``materialized='table'`` models — invalid nested CTAS on real dbt.
We implement the intent (CTAS into the bronze layer), not the bug.
"""

from __future__ import annotations

import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from gmt_dbt_spark.session import inherit_local_properties
from gmt_dbt_spark.sources.sinks import read_written

_CONFIG_RE = re.compile(r"\{\{\s*config\s*\(([^)]*)\)\s*\}\}")
_SOURCE_RE = re.compile(r"\{\{\s*source\s*\(\s*'([^']+)'\s*,\s*'([^']+)'\s*\)\s*\}\}")
_REF_RE = re.compile(r"\{\{\s*ref\s*\(\s*'([^']+)'\s*\)\s*\}\}")
_KWARG_RE = re.compile(r"(\w+)\s*=\s*'([^']*)'")
# Run-time directives (dbt renders per-invocation; we resolve them in
# _materialize because their value depends on target existence):
_THIS_RE = re.compile(r"\{\{\s*this\s*\}\}")
_IS_INCR_RE = re.compile(r"\{\{\s*is_incremental\s*\(\s*\)\s*\}\}")
# dbt's canonical incremental guard: the whole block is REMOVED on a
# full load (so `{{ this }}` inside never reaches the analyzer when
# the target doesn't exist yet) and kept on incremental runs.
_IF_INCR_RE = re.compile(
    r"\{%\s*if\s+is_incremental\s*\(\s*\)\s*%\}(.*?)\{%\s*endif\s*%\}", re.S
)


@dataclass
class Model:
    """One dbt-style model: name + Jinja-lite SQL + parsed config.

    A **Python model** (dbt ≥1.3: a `def model(dbt, session)` function
    returning a DataFrame) sets ``python_fn`` instead of ``raw_sql``;
    its `dbt.ref()` / `dbt.source()` calls are discovered statically
    from the function source — the same static-extraction contract
    real dbt applies to Python models via AST parse."""

    name: str
    raw_sql: str = ""
    config: dict[str, str] = field(default_factory=dict)
    depends_on: list[str] = field(default_factory=list)  # ref() edges
    compiled_sql: str = ""
    python_fn: object | None = None  # Callable[[DbtShim, SparkSession], DataFrame]
    # dbt model contract (contracts: enforced): declared column name →
    # Spark type DDL string; materialization fails on ANY drift.
    contract: dict[str, str] | None = None

    @property
    def materialized(self) -> str:
        # dbt restricts Python models to table/incremental; table here
        default = "table" if self.python_fn is not None else "view"
        return self.config.get("materialized", default)


# Static dependency extraction for Python models (dbt AST-parses; a
# regex over the source is the same contract for our surface).
_PY_REF_RE = re.compile(r"dbt\s*\.\s*ref\s*\(\s*['\"]([^'\"]+)['\"]\s*\)")
_PY_SOURCE_RE = re.compile(
    r"dbt\s*\.\s*source\s*\(\s*['\"]([^'\"]+)['\"]\s*,\s*['\"]([^'\"]+)['\"]\s*\)"
)


class DbtShim:
    """The `dbt` object handed to a Python model at run time —
    `ref`/`source` return DataFrames over the already-materialized
    upstream relations (toposort guarantees they exist)."""

    def __init__(self, spark: SparkSession, sources: dict, config: dict):
        self._spark = spark
        self._sources = sources
        self.config = dict(config)

    def ref(self, name: str) -> DataFrame:
        return self._spark.table(name)

    def source(self, schema: str, tbl: str) -> DataFrame:
        return self._spark.table(self._sources[(schema, tbl)])


# dbt macros: reusable SQL template functions, `{{ macro_name(arg, …) }}`.
# The reference declares `macro-paths` with an empty dir (`dbt_project.yml:12`);
# here a macro is a Python callable str×…→str registered per-project (the
# Jinja-lite analogue of a .sql macro file). Expanded BEFORE source()/ref()
# so macros may themselves emit those directives.
MacroFn = "Callable[..., str]"
_MACRO_RE = re.compile(r"\{\{\s*(\w+)\s*\(([^)]*)\)\s*\}\}")
_RESERVED_DIRECTIVES = {"config", "source", "ref", "is_incremental"}


def expand_macros(sql: str, macros: dict) -> str:
    """Expand `{{ name(args) }}` for every registered macro; unknown
    names that aren't built-in directives raise (dbt's behavior for
    an undefined macro). Args are passed as trimmed strings with
    surrounding quotes stripped. Expansion repeats so macros can
    emit other macros (bounded to avoid runaway recursion)."""
    for _ in range(10):
        hit = False

        def sub(m: re.Match) -> str:
            nonlocal hit
            name = m.group(1)
            if name in _RESERVED_DIRECTIVES:
                return m.group(0)
            if name not in macros:
                raise KeyError(f"undefined macro '{name}'")
            hit = True
            raw = [a.strip() for a in m.group(2).split(",")] if m.group(2).strip() else []
            args = [a[1:-1] if len(a) >= 2 and a[0] == a[-1] and a[0] in "'\"" else a
                    for a in raw]
            return macros[name](*args)

        sql = _MACRO_RE.sub(sub, sql)
        if not hit:
            return sql
    raise RecursionError("macro expansion did not terminate in 10 passes")


def compile_model(
    model: Model,
    sources: dict[tuple[str, str], str],
    model_names: set[str],
    macros: dict | None = None,
) -> Model:
    """Render the Jinja-lite directives to executable Spark SQL.

    Macros expand first (they may emit further directives);
    config(...) is parsed into ``model.config`` and removed; source()
    resolves via the source mapping (unknown source → error, the same
    contract dbt enforces against source.yml — the reference violates
    it for 2 models, SURVEY.md §3.2 defect 1); ref() resolves to the
    referenced model's registered name and records a DAG edge.
    """
    if model.python_fn is not None:
        import inspect

        src = inspect.getsource(model.python_fn)
        deps = []
        for ref in _PY_REF_RE.findall(src):
            if ref not in model_names:
                raise KeyError(
                    f"python model '{model.name}' references unknown model '{ref}'"
                )
            deps.append(ref)
        for s_schema, s_table in _PY_SOURCE_RE.findall(src):
            if (s_schema, s_table) not in sources:
                raise KeyError(
                    f"python model '{model.name}' references undeclared "
                    f"source {(s_schema, s_table)}"
                )
        model.depends_on = deps
        if model.materialized == "ephemeral":
            raise ValueError(
                f"python model '{model.name}' cannot be ephemeral (dbt contract)"
            )
        return model

    sql = expand_macros(model.raw_sql, macros or {})
    for m in _CONFIG_RE.finditer(sql):
        model.config.update(dict(_KWARG_RE.findall(m.group(1))))
    sql = _CONFIG_RE.sub("", sql)

    def sub_source(m: re.Match) -> str:
        key = (m.group(1), m.group(2))
        if key not in sources:
            raise KeyError(
                f"model '{model.name}' references undeclared source {key} "
                "(dbt compile error; see SURVEY.md §3.2 defect 1)"
            )
        return sources[key]

    sql = _SOURCE_RE.sub(sub_source, sql)

    deps: list[str] = []

    def sub_ref(m: re.Match) -> str:
        ref = m.group(1)
        if ref not in model_names:
            raise KeyError(f"model '{model.name}' references unknown model '{ref}'")
        deps.append(ref)
        return ref

    sql = _REF_RE.sub(sub_ref, sql)
    model.depends_on = deps
    model.compiled_sql = sql.strip()
    return model


def _toposort_levels(
    models: dict[str, Model], assume_done: set[str] | None = None
) -> list[list[Model]]:
    """Kahn levels: each level's models are mutually independent and
    run concurrently (dbt's thread scheduling unit). ``assume_done``
    marks dependencies satisfied OUTSIDE this run (deferred state)."""
    remaining = dict(models)
    done: set[str] = set(assume_done or ())
    levels: list[list[Model]] = []
    while remaining:
        ready = [
            m
            for m in remaining.values()
            if all(d in done for d in m.depends_on)
        ]
        if not ready:
            cyc = ", ".join(sorted(remaining))
            raise ValueError(f"model DAG has a cycle among: {cyc}")
        levels.append(ready)
        for m in ready:
            done.add(m.name)
            del remaining[m.name]
    return levels


class ModelProject:
    """A compiled model DAG bound to a warehouse directory.

    ``run()`` executes every model in dependency order with
    ``threads`` concurrent workers (reference: `profile.yml:9`,
    threads: 4), each under the caller's Spark local properties (job
    group, description, scheduler pool), and returns {model name →
    result DataFrame}.
    """

    def __init__(
        self,
        spark: SparkSession,
        models: list[Model],
        sources: dict[tuple[str, str], str],
        warehouse_dir: str,
        threads: int = 4,
        macros: dict | None = None,
    ):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.threads = threads
        self._sources = dict(sources)
        names = {m.name for m in models}
        if len(names) != len(models):
            raise ValueError("duplicate model names")
        self.models = {
            m.name: compile_model(m, sources, names, macros) for m in models
        }
        self._inline_ephemerals()

    def _inline_ephemerals(self) -> None:
        """dbt `materialized='ephemeral'`: the model never becomes a
        relation — consumers get its compiled SQL spliced in as a CTE
        (dbt's `__dbt__cte__<name>` rewrite). Processing in topo order
        lets ephemerals reference other ephemerals; by the time a
        consumer is rewritten, its ephemeral dependencies are already
        fully inlined."""
        for level in _toposort_levels(self.models):
            for model in level:
                ctes = []
                for dep in model.depends_on:
                    dm = self.models[dep]
                    if dm.materialized != "ephemeral":
                        continue
                    if model.python_fn is not None:
                        raise ValueError(
                            f"python model '{model.name}' cannot ref() "
                            f"ephemeral model '{dep}' (dbt contract)"
                        )
                    cte = f"__cte__{dep}"
                    model.compiled_sql = re.sub(
                        rf"\b{re.escape(dep)}\b", cte, model.compiled_sql
                    )
                    ctes.append(f"{cte} AS ({dm.compiled_sql.strip()})")
                if ctes:
                    body = model.compiled_sql.strip()
                    if body[:5].upper() == "WITH ":
                        model.compiled_sql = (
                            "WITH " + ", ".join(ctes) + ", " + body[5:]
                        )
                    else:
                        model.compiled_sql = "WITH " + ", ".join(ctes) + " " + body

    @staticmethod
    def _enforce_contract(model: Model, df: DataFrame) -> None:
        """dbt `contracts: enforced`: the model's ACTUAL schema must
        equal the declared (name → type) contract exactly — extra,
        missing, or retyped columns abort materialization BEFORE any
        write, which is the entire point: downstream consumers never
        see a silently-drifted relation."""
        if model.contract is None:
            return
        actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        declared = {k: v.lower().strip() for k, v in model.contract.items()}
        if actual != declared:
            missing = sorted(set(declared) - set(actual))
            extra = sorted(set(actual) - set(declared))
            retyped = sorted(
                k for k in set(actual) & set(declared) if actual[k] != declared[k]
            )
            raise ValueError(
                f"model '{model.name}' violates its contract: "
                f"missing={missing} extra={extra} retyped={retyped}"
            )

    def _materialize(self, model: Model) -> DataFrame:
        path = os.path.join(self.warehouse_dir, model.name)
        sql = model.compiled_sql
        if model.python_fn is not None:
            # dbt Python model: the function builds a DataFrame from
            # dbt.ref()/dbt.source(); always materialized (dbt allows
            # table/incremental only — table here), so downstream SQL
            # models consume it like any other relation.
            dbt = DbtShim(self.spark, self._sources, model.config)
            df = model.python_fn(dbt, self.spark)
            self._enforce_contract(model, df)
            shutil.rmtree(path, ignore_errors=True)
            df.write.mode("overwrite").parquet(path)
            df = read_written(self.spark, df, path)
            df.createOrReplaceTempView(model.name)
            return df
        if model.materialized == "incremental":
            # dbt's incremental contract: first run = full CTAS; later
            # runs compute the model (optionally filtered via
            # is_incremental()/{{ this }}) and MERGE it into the target
            # on unique_key — our merge_upsert, i.e. the reference's
            # gcp_function.py MERGE inside the dbt lifecycle.
            exists = os.path.exists(path)
            if exists:
                self.spark.read.parquet(path).createOrReplaceTempView(
                    f"{model.name}__this"
                )
            sql = _IF_INCR_RE.sub(lambda m: m.group(1) if exists else "", sql)
            sql = _THIS_RE.sub(f"{model.name}__this", sql)
            sql = _IS_INCR_RE.sub("TRUE" if exists else "FALSE", sql)
            df = self.spark.sql(sql)
            self._enforce_contract(model, df)
            if exists:
                from gmt_dbt_spark.operators.upsert import merge_in_place

                key = model.config.get("unique_key")
                if not key:
                    raise ValueError(
                        f"incremental model '{model.name}' needs unique_key"
                    )
                merge_in_place(path, df, [key])
                df = self.spark.read.parquet(path)
            else:
                df.write.mode("overwrite").parquet(path)
                df = read_written(self.spark, df, path)
        elif model.materialized == "table":
            df = self.spark.sql(sql)
            self._enforce_contract(model, df)
            shutil.rmtree(path, ignore_errors=True)
            df.write.mode("overwrite").parquet(path)
            df = read_written(self.spark, df, path)
        elif model.materialized == "view":
            df = self.spark.sql(sql)
            self._enforce_contract(model, df)
        elif model.materialized == "ephemeral":
            # Never registered as a relation — consumers already have
            # this SQL inlined as a CTE (_inline_ephemerals). The
            # returned frame exists only for inspection.
            return self.spark.sql(sql)
        else:
            raise ValueError(
                f"unsupported materialization '{model.materialized}' "
                f"for model '{model.name}'"
            )
        df.createOrReplaceTempView(model.name)
        return df

    def select_nodes(self, selector: str) -> set[str]:
        """dbt node-selection syntax (the `--select` subset this
        engine supports): `name`, `+name` (node plus ancestors),
        `name+` (node plus descendants), comma for union. Unknown
        names raise, as dbt does."""
        chosen: set[str] = set()
        for part in (p.strip() for p in selector.split(",")):
            if not part:
                continue  # empty selector/segment selects nothing
            want_anc = part.startswith("+")
            want_desc = part.endswith("+")
            name = part.strip("+")
            if name not in self.models:
                raise KeyError(f"--select references unknown model '{name}'")
            chosen.add(name)
            if want_anc:
                chosen |= self._ancestors(name)
            if want_desc:
                chosen |= self._descendants(name)
        return chosen

    def _ancestors(self, name: str) -> set[str]:
        out: set[str] = set()
        stack = [d for d in self.models[name].depends_on if d in self.models]
        while stack:
            d = stack.pop()
            if d not in out:
                out.add(d)
                stack.extend(
                    x for x in self.models[d].depends_on if x in self.models
                )
        return out

    def _descendants(self, name: str) -> set[str]:
        children: dict[str, list[str]] = {n: [] for n in self.models}
        for m in self.models.values():
            for d in m.depends_on:
                if d in children:
                    children[d].append(m.name)
        out: set[str] = set()
        stack = list(children[name])
        while stack:
            c = stack.pop()
            if c not in out:
                out.add(c)
                stack.extend(children[c])
        return out

    def manifest(self) -> dict[str, str]:
        """dbt-style state manifest: model name -> sha256 of its
        COMPILED SQL (or python source) — the artifact `state:modified`
        compares against. Compiled (post-macro, post-ref-resolution)
        text is the right level: a macro edit changes every consumer's
        hash exactly as dbt's state comparison does."""
        import hashlib
        import inspect

        out = {}
        for m in self.models.values():
            body = (
                m.compiled_sql
                if m.python_fn is None
                else inspect.getsource(m.python_fn)
            )
            out[m.name] = hashlib.sha256(body.encode()).hexdigest()
        return out

    def modified_vs(self, prev_manifest: dict[str, str]) -> set[str]:
        """`state:modified`: models whose compiled hash differs from
        the prior manifest (new models count as modified)."""
        cur = self.manifest()
        return {n for n, h in cur.items() if prev_manifest.get(n) != h}

    def _register_deferred(
        self, names: set[str], required: set[str] | None = None
    ) -> None:
        """Bind deferred (out-of-selection) models to their PRIOR
        STATE: parquet-backed materializations re-register from the
        warehouse directory (authoritative — never a lingering temp
        view from some other project in the shared session), and
        view models re-create their definitions; processed in topo
        order so deferred views can reference deferred tables.

        ``required`` (ancestors of the selection): a required deferred
        table/incremental model with NO prior warehouse artifact fails
        fast with a dbt-style state error (ADVICE r2) instead of
        surfacing later as an opaque 'table or view not found' when
        the selected descendant's SQL is analyzed. Non-required
        deferred models are best-effort."""
        sub = {n: self.models[n] for n in names}
        for level in _toposort_levels(sub, set(self.models) - set(sub)):
            for m in level:
                path = os.path.join(self.warehouse_dir, m.name)
                if os.path.exists(path):
                    self.spark.read.parquet(path).createOrReplaceTempView(m.name)
                elif m.materialized == "view" and m.compiled_sql:
                    self.spark.sql(m.compiled_sql).createOrReplaceTempView(m.name)
                elif m.materialized == "ephemeral":
                    pass  # already inlined into consumers
                elif required is not None and m.name in required:
                    raise RuntimeError(
                        f"deferred model '{m.name}' (materialized="
                        f"{m.materialized!r}) has no prior artifact at "
                        f"{path!r} and no view fallback — run it once "
                        f"without --defer (or include it in the "
                        f"selection) before deferring to prior state"
                    )

    def read_warehouse(self, name: str) -> DataFrame:
        """The prior materialized relation of ``name`` from the
        warehouse directory (the --defer steady-state read path)."""
        path = os.path.join(self.warehouse_dir, name)
        if not os.path.exists(path):
            raise RuntimeError(
                f"model '{name}' has no materialized artifact at {path!r}"
            )
        return self.spark.read.parquet(path)

    def run(
        self, select: str | None = None, defer: bool = False
    ) -> dict[str, DataFrame]:
        """Execute the DAG or, with ``select``, the chosen subgraph.
        Without ``defer`` the selection closes over ancestors so every
        ref() resolves within THIS run; with ``defer`` (dbt
        `--defer --state`) out-of-selection ancestors are assumed
        already materialized from a prior run and are NOT rebuilt —
        their refs resolve to the existing warehouse relations."""
        models = self.models
        assume_done: set[str] = set()
        if select is not None:
            chosen = self.select_nodes(select)
            if defer:
                assume_done = set(self.models) - chosen
                needed = set()
                for n in chosen:
                    needed |= self._ancestors(n)
                self._register_deferred(assume_done, required=needed & assume_done)
            else:
                for n in list(chosen):
                    chosen |= self._ancestors(n)
            models = {k: v for k, v in self.models.items() if k in chosen}
        results: dict[str, DataFrame] = {}
        materialize = inherit_local_properties(self.spark, self._materialize)
        with ThreadPoolExecutor(max_workers=self.threads) as pool:
            for level in _toposort_levels(models, assume_done):
                futures = {m.name: pool.submit(materialize, m) for m in level}
                for name, fut in futures.items():
                    results[name] = fut.result()
        return results


def load_models_dir(models_dir: str) -> tuple[list[Model], dict]:
    """Load a dbt-style project from DISK: every `*.sql` file becomes
    a Model (name = filename stem, body = file text with the same
    Jinja-lite directives the reference's models use —
    `models/yelp/*.sql` are exactly this shape), and an optional
    `sources.json` maps "schema.table" → registered relation name
    (the JSON analogue of `models/yelp/source.yml`). This is the
    file-based entry point `dbt run` has: drop .sql files in a dir,
    point the runner at it."""
    import json

    models: list[Model] = []
    for fname in sorted(os.listdir(models_dir)):
        if fname.endswith(".sql"):
            with open(os.path.join(models_dir, fname)) as fh:
                models.append(Model(fname[:-4], fh.read()))
    sources: dict = {}
    src_file = os.path.join(models_dir, "sources.json")
    if os.path.exists(src_file):
        with open(src_file) as fh:
            for k, v in json.load(fh).items():
                schema, tbl = k.split(".", 1)
                sources[(schema, tbl)] = v
    return models, sources
