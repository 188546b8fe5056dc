"""Workflow graph + Spark-aware resolver.

The engine keeps the reference's capabilities — pattern-routed resources,
declared dependencies, config injection, per-run memoization — but each
resource typically materializes a *lazy* :class:`pyspark.sql.DataFrame`
(a Catalyst logical plan).  Driver-side resolution stays pure Python;
Spark's analyzer/optimizer/codegen run only when an action fires.

Parity map (behaviors pinned by the reference suite, re-expressed here;
citations into ``/root/reference/interlinked/workflow.py``):

* ``provide`` / ``depend`` / ``mutate`` decorators, multi-pattern cells,
  duplicate-pattern rejection with ``_override`` escape (``:155-186``);
* resolve-time kwarg precedence ``base_kw < route params < run kwargs <
  config`` (``:231``, ``tests/test_config.py:23-31``);
* per-run memoization with the ``None``-never-cached quirk (``:221-222``);
* multi-provide tuple contract: one call, fan-out caching, matched slice
  returned (``:264-270``);
* ``validate`` (roots + cycle DFS), ``deps``, ``clone``/``kw``/``config``,
  global named-workflow registry (``:49-153``).

Engine deltas (SURVEY.md §3.1/§4.1):

* **resolve hook restored** — the reference documents rebinding
  ``wkf.resolve`` to customize dependency reification but never calls it
  (``README.md:33-53`` vs ``workflow.py:220``).  Here :class:`Run` routes
  every resource production through :meth:`Workflow.resolve`, so
  persist/reuse/catalog policy is injectable.
* **fan-out persist policy** — a single-pattern resource is marked
  ``persist(MEMORY_AND_DISK)`` when it is consumed a second time within
  one run (the run's memo cache is the fan-out signal), and every
  DataFrame slice of a multi-provide tuple is persisted at production
  (the shared producer ran once).  Both restore the reference's
  evaluate-once semantics across Spark actions without persisting
  everything (which would OOM at 100 TB); cheap scans (scan, filter
  and project only) are exempt in both cases (persisting a scan is a
  pessimization).  Nothing is auto-unpersisted (results are lazy and
  outlive the run); ``Run.release()`` frees explicitly.
* per-cell debug timing kept (``workflow.py:250-257``), noting that for
  DataFrame producers it measures *plan construction*, not execution.
"""

from __future__ import annotations

import logging
import time
from collections import defaultdict
from itertools import chain
from typing import Any, Callable, Optional

from .binding import bind
from .exceptions import LoopException, NoRootException, UnknownDependency
from .routing import Match, Router
from .templating import NameTemplate, render

logger = logging.getLogger("interlinked_spark")


def _is_dataframe(value: Any) -> bool:
    """True for batch or streaming Spark DataFrames (lazy import so the
    pure-Python graph layer works without a JVM)."""
    mod = type(value).__module__ or ""
    return mod.startswith("pyspark.") and type(value).__name__ == "DataFrame"


_HEAVY_PLAN_NODES = (
    "Join", "Aggregate", "Window", "Generate", "Union",
    "Sort", "Expand", "Deduplicate", "Intersect", "Except",
)


def _is_cheap_scan(df: Any) -> bool:
    """True when the DataFrame is just scan+filter+project — caching
    those is a pessimization (re-scanning columnar parquet beats the
    row<->columnar cache conversion, and an InMemoryRelation blocks
    filter/projection pushdown for downstream pipelines; measured 3.4s
    -> 16s on the shingle pipeline at sf0.1).  Only plans that actually
    recompute something (join/agg/window/...) are worth pinning."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:  # pragma: no cover - e.g. Spark Connect
        return False
    return not any(node in plan for node in _HEAVY_PLAN_NODES)


class Cell:
    """One DAG node: a producer function registered under one or more
    route patterns, with its declared dependencies and kwarg mutators."""

    def __init__(self, workflow: "Workflow", patterns: tuple[str, ...], kw: Optional[dict] = None):
        self.workflow = workflow
        self.patterns = [NameTemplate(p) for p in patterns]
        self.fn: Optional[Callable] = None
        # Per-cell default kwargs (documented intent of the reference's
        # unused ``Cell.kw`` — lowest precedence in the merge, see R5).
        self.kw = dict(kw or {})
        self.dependencies: dict[str, NameTemplate] = {}
        self.mutators: dict[str, Callable] = {}

    def __call__(self, fn: Callable) -> Callable:
        self.workflow.by_fn[fn].append(self)
        self.fn = fn
        return fn

    def depend(self, dependencies: dict[str, NameTemplate]) -> "Cell":
        # Earlier-attached deps win (parity: ``workflow.py:44-46``).
        self.dependencies = {**dependencies, **self.dependencies}
        return self


class Workflow:
    """Named registry of resource patterns -> cells, with config routing."""

    _registry: dict[str, "Workflow"] = {}

    def __init__(
        self,
        name: str,
        router: Optional[Router] = None,
        by_fn: Optional[dict] = None,
        base_kw: Optional[dict] = None,
        config: Optional[dict] = None,
    ):
        if name:
            if name in Workflow._registry:
                raise ValueError(f"Workflow {name} already defined!")
            Workflow._registry[name] = self
        self.name = name
        self.router = router if router is not None else Router()
        self.by_fn: dict[Callable, list[Cell]] = defaultdict(list)
        if by_fn:
            self.by_fn.update(by_fn)
        self.base_kw: dict = dict(base_kw or {})
        self.config_router = Router()
        if config:
            self.set_config(config)
        self._validated = False

    # -- registry -----------------------------------------------------

    @classmethod
    def get(cls, name: str) -> Optional["Workflow"]:
        return cls._registry.get(name)

    @classmethod
    def forget(cls, name: str) -> None:
        """Drop a workflow from the global registry (test helper)."""
        cls._registry.pop(name, None)

    # -- registration -------------------------------------------------

    def provide(self, *patterns: str, _override: bool = False, **kw) -> Cell:
        self._validated = False
        if not _override:
            for pattern in patterns:
                if pattern in self.router:
                    raise ValueError(
                        f"{pattern} already defined in Workflow '{self.name}'"
                    )
        cell = Cell(self, patterns, kw)
        for pattern in patterns:
            self.router.add(pattern, cell)
        return cell

    def depend(self, **dependencies: str) -> Callable:
        self._validated = False
        templates = {k: NameTemplate(v) for k, v in dependencies.items()}

        def decorator(fn: Callable) -> Callable:
            for cell in self.by_fn[fn]:
                cell.depend(templates)
            return fn

        return decorator

    def mutate(self, **mutators: Callable) -> Callable:
        def decorator(fn: Callable) -> Callable:
            for cell in self.by_fn[fn]:
                cell.mutators = {**mutators, **cell.mutators}
            return fn

        return decorator

    def set_config(self, config: dict) -> None:
        self.config_router = Router(**config)

    # -- derivation ---------------------------------------------------

    def clone(
        self,
        name: Optional[str] = None,
        config: Optional[dict] = None,
        kw: Optional[dict] = None,
    ) -> "Workflow":
        """Copy-on-write twin: shared ``by_fn``, cloned router, merged
        ``base_kw``.  Concurrent CLI runs must not see each other's
        config (SURVEY.md §3.2), hence the cloned routers.

        Deviation from the reference: when ``config`` is omitted the
        *config router* is cloned directly instead of round-tripping the
        compiled routes dict through ``set_config`` (which in v0.4.0
        corrupts entries into ``(regex, value)`` tuples — latent bug,
        ``workflow.py:139`` + ``router.py:83``); intent preserved.
        """
        twin = Workflow(
            name=name or self.name + "_clone",
            router=self.router.clone(),
            by_fn=self.by_fn,
            base_kw={**self.base_kw, **(kw or {})},
        )
        if config is not None:
            twin.set_config(config)
        else:
            twin.config_router = self.config_router.clone()
        return twin

    def kw(self, **kw) -> "Workflow":
        return self.clone(kw=kw)

    def config(self, config: Optional[dict]) -> "Workflow":
        return self.clone(config=config)

    # -- static analysis ----------------------------------------------

    def deps(self) -> dict[str, list[str]]:
        """``{parent_pattern: [dependent patterns]}`` — dependency edges
        with concrete dep names resolved back to their patterns; doubles
        as a lineage export."""
        parent_to_children: dict[str, list[str]] = {p: [] for p in self.router.routes}
        for pattern in self.router.routes:
            cell = self.router.match(pattern).value
            for dep in cell.dependencies.values():
                parent = dep.pattern
                if parent not in parent_to_children:
                    hit = self.router.match(parent)
                    if not hit:
                        raise UnknownDependency(
                            f"Dependency '{parent}' is not known "
                            f"in workflow '{self.name}'"
                        )
                    parent = hit.route
                parent_to_children[parent].append(pattern)
        return parent_to_children

    def validate(self) -> None:
        """Pre-flight graph check (cheap, driver-side, before any Spark
        job is submitted): every pattern reachable from a root, no
        cycles."""
        if self._validated:
            return
        graph = self.deps()
        roots = set(graph) - set(chain.from_iterable(graph.values()))
        if not roots:
            raise NoRootException(f"No roots for workflow '{self.name}'")
        for root in roots:
            self._walk(root, graph, ancestors=())
        self._validated = True

    def _walk(self, node: str, graph: dict, ancestors: tuple) -> None:
        for child in graph[node]:
            if child in ancestors:
                raise LoopException(
                    f'Loop detected in workflow "{self.name}" '
                    f'(validation failed when evaluating "{child}")'
                )
            self._walk(child, graph, ancestors + (child,))

    # -- resolution ---------------------------------------------------

    def by_name(self, name: str) -> Match:
        hit = self.router.match(name)
        if not hit:
            raise KeyError(f"No resource found in workflow for '{name}'")
        return hit

    def resolve(self, name: str, run: Optional["Run"] = None) -> Any:
        """Produce one resource for ``run``.  This is the restored hook
        (R28): every dependency reification goes through it, so
        subclasses / rebinds can swap in catalog reads, persist policy,
        or mocks without touching the producers."""
        run = run or Run(self)
        return run.produce(name)

    def run(self, *resource_names: str, **extra_kw) -> Any:
        run = Run(self, **extra_kw)
        results = tuple(run.resolve(name) for name in resource_names)
        return results[0] if len(results) == 1 else results


class Run:
    """One execution: a shared memo cache over the resolved resources.

    A value resolved twice within a run is produced once (the reference's
    evaluate-once guarantee); across runs everything recomputes.  ``None``
    results are deliberately never cached (quirk parity).  This memo is
    per run; below it, parquet schemas inferred by
    ``sources.read_table`` are kept per session, so a producer that
    runs again in a later run rebuilds its DataFrame without a
    schema-inference job.
    """

    def __init__(self, wkf: Workflow, **extra_kw):
        self.wkf = wkf
        self.extra_kw = extra_kw
        self.cache: dict[str, Any] = {}
        self.persisted: list[Any] = []
        #: resource -> producer wall-clock seconds (metrics hook, R27)
        self.metrics: dict[str, float] = {}

    def resolve(self, resource_name: str) -> Any:
        cached = self.cache.get(resource_name)
        if cached is not None:
            # Dynamic fan-out: a resource consumed a second time within
            # the run gets pinned, so every downstream action reuses the
            # cached blocks instead of re-running the shared lineage.
            return self._persist_on_reuse(cached)
        return self.wkf.resolve(resource_name, run=self)

    def _set_job_group(self, kw: dict, resource_name: str) -> None:
        """Attribute Spark jobs launched while producing this resource
        (eager checkpoints, streaming starts) to the resource name —
        shows up in the Spark UI / status API per resource."""
        spark = kw.get("spark")
        sc = getattr(spark, "sparkContext", None)
        if sc is not None:
            try:
                sc.setJobGroup(
                    f"{self.wkf.name}:{resource_name}",
                    f"interlinked resource {resource_name}",
                )
            except Exception:  # pragma: no cover
                pass

    def _persist_on_reuse(self, value: Any) -> Any:
        if (
            _is_dataframe(value)
            and not getattr(value, "isStreaming", False)
            and not value.storageLevel.useMemory
            and not value.storageLevel.useDisk
            and not _is_cheap_scan(value)
        ):
            from pyspark import StorageLevel

            value.persist(StorageLevel.MEMORY_AND_DISK)
            self.persisted.append(value)
        return value

    def produce(self, resource_name: str) -> Any:
        match = self.wkf.by_name(resource_name)
        cell: Cell = match.value

        config_entry = self.wkf.config_router.get(resource_name, {})
        if config_entry:
            config_entry = render(config_entry, **match.kw)

        # Precedence (low -> high): cell defaults, workflow defaults,
        # route params, run kwargs, config.  Config-beats-run-kwargs is
        # surprising but test-pinned in the reference (test_config.py:23-31).
        kw = {
            **cell.kw,
            **self.wkf.base_kw,
            **match.kw,
            **self.extra_kw,
            **config_entry,
        }

        for alias, template in cell.dependencies.items():
            try:
                dep_name = template.fmt(kw)
            except KeyError as exc:
                raise KeyError(
                    f"Missing dependency {template} for {resource_name} "
                    f"in workflow {self.wkf.name}"
                ) from exc
            kw[alias] = self.resolve(dep_name)

        for alias, mutator in cell.mutators.items():
            kw[alias] = bind(mutator, kw=kw)()

        logger.debug("Workflow %s running %s", self.wkf.name, cell.fn.__name__)
        started = time.time()
        self._set_job_group(kw, resource_name)
        res = bind(cell.fn, kw=kw)()
        elapsed = time.time() - started
        # Metrics hook (reference analog: per-cell debug timer,
        # workflow.py:250-257).  For DataFrame producers this measures
        # plan construction; Spark-side job metrics are attributed via
        # the job group set above (visible in the UI / status API).
        self.metrics[resource_name] = elapsed
        logger.debug(
            "Call of %s took %.3fs (plan construction for DataFrames)",
            cell.fn.__name__,
            elapsed,
        )

        if len(cell.patterns) == 1:
            self.cache[resource_name] = res
            return res

        # Multi-provide: one call materializes every pattern of the cell.
        assert isinstance(res, tuple)
        out = []
        for template, element in zip(cell.patterns, res):
            element = self._persist_slice(element)
            self.cache[template.fmt(match.kw)] = element
            out.append(element)
        raw = [t.pattern for t in cell.patterns]
        return out[raw.index(match.route)]

    def _persist_slice(self, value: Any) -> Any:
        """Mark multi-provide DataFrames for caching (their shared
        producer ran once; without persist each slice would recompute
        the common prefix per action).  Single-pattern resources persist
        lazily on second in-run consumption instead (_persist_on_reuse)
        — the memo cache is the precise fan-out signal, and bare scans
        are exempt (persisting a scan is a pessimization)."""
        if not _is_dataframe(value) or getattr(value, "isStreaming", False):
            return value
        if not _is_cheap_scan(value):
            from pyspark import StorageLevel

            value = value.persist(StorageLevel.MEMORY_AND_DISK)
            self.persisted.append(value)
        return value

    def release(self) -> None:
        """Unpersist everything this run pinned (explicit, never automatic:
        results are lazy plans that may be consumed after the run).
        Default paths the engine made up (``session.scratch_dir``) are
        not touched here: Spark deletes them at ``spark.stop()``."""
        while self.persisted:
            df = self.persisted.pop()
            try:
                df.unpersist()
            except Exception:  # pragma: no cover - session already gone
                pass


# Module-level default workflow + shortcuts (parity: ``workflow.py:273-279``).
default_workflow = Workflow("default_workflow")
run = default_workflow.run
provide = default_workflow.provide
depend = default_workflow.depend
mutate = default_workflow.mutate
set_config = default_workflow.set_config
