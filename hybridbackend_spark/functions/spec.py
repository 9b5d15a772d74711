"""Spec-driven feature pipeline: a declarative JSON feature spec applied
as Column expressions — the Spark rendering of the reference's
``DataSpec`` (``docs/tutorial/ranking/data.py:39-146``: per-feature
``{name, dtype, type, default, norm, log, embedding{size, dimension}}``,
numeric transform at ``:148-165``, categorical at ``:166-199``).

Numeric features: sentinel imputation (``x >= 0`` validity) -> optional
``log1p`` -> optional ``x / norm`` — all whole-stage-codegen expressions.
Categorical features: imputation -> ``id % embedding_size`` bucketing;
the embedding join itself is :func:`~hybridbackend_spark.operators.joins.
lookup_join` (scalar ids) or :func:`~...joins.pooled_lookup` (list ids) —
the spec records the embedding geometry, the join operators do the work.

At scale this is config, not code: the same JSON spec that drives the
reference's TF pipeline drives this one, and every transform stays
JVM-side.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from .._materialize import materialize
from .feature import impute, log1p_feature, mod_bucket, normalize

__all__ = ["EmbeddingSpec", "FeatureSpec", "DataSpec", "CorpusSpec"]


@dataclass(frozen=True)
class EmbeddingSpec:
    """Embedding geometry for a categorical feature (reference
    ``data.py:26-36``)."""

    size: int
    dimension: int


@dataclass(frozen=True)
class FeatureSpec:
    """One feature's declarative transform recipe (reference
    ``data.py:96-103``). ``type`` is ``"scalar"`` or ``"list"``."""

    name: str
    dtype: str
    type: str = "scalar"
    default: Any = None
    norm: float | None = None
    log: bool | None = None
    embedding: EmbeddingSpec | None = None

    @property
    def is_categorical(self) -> bool:
        return self.embedding is not None


class DataSpec:
    """Reads the reference's JSON spec format and applies it to a
    DataFrame declaratively (reference ``DataSpec.read``,
    ``data.py:46-66``)."""

    def __init__(
        self,
        items: Sequence[dict],
        disable_imputation: bool = False,
        disable_transform: bool = False,
        override_embedding_size: int | None = None,
    ):
        if not isinstance(items, (list, tuple)):
            raise ValueError("items must be a list")
        self.disable_imputation = disable_imputation
        self.disable_transform = disable_transform
        specs = []
        for item in items:
            emb = None
            if "embedding" in item:
                emb = EmbeddingSpec(
                    item["embedding"]["size"]
                    if override_embedding_size is None
                    else override_embedding_size,
                    item["embedding"]["dimension"],
                )
            specs.append(
                FeatureSpec(
                    item["name"],
                    item["dtype"],
                    item.get("type", "scalar"),
                    item.get("default"),
                    item.get("norm"),
                    item.get("log"),
                    emb,
                )
            )
        self.feature_specs: list[FeatureSpec] = specs

    @classmethod
    def read(cls, path: str, **kwargs) -> "DataSpec":
        with open(path, encoding="utf8") as f:
            return cls(json.load(f), **kwargs)

    def __iter__(self):
        return iter(self.feature_specs)

    @property
    def defaults(self) -> dict[str, Any]:
        return {s.name: s.default for s in self.feature_specs}

    @property
    def norms(self) -> dict[str, float | None]:
        return {s.name: s.norm for s in self.feature_specs}

    @property
    def logs(self) -> dict[str, bool | None]:
        return {s.name: s.log for s in self.feature_specs}

    @property
    def embedding_sizes(self) -> dict[str, int | None]:
        return {
            s.name: s.embedding.size if s.embedding else None
            for s in self.feature_specs
        }

    @property
    def embedding_dims(self) -> dict[str, int | None]:
        return {
            s.name: s.embedding.dimension if s.embedding else None
            for s in self.feature_specs
        }

    def numeric_column(self, spec: FeatureSpec) -> Column:
        """Impute -> log1p -> normalize, per the spec flags (reference
        ``transform_numeric``, ``data.py:148-165``)."""
        c: Column = F.col(spec.name)
        if not self.disable_imputation and spec.default is not None:
            c = impute(c, spec.default)
        c = c.cast("double")
        if not self.disable_transform and spec.log:
            c = log1p_feature(c)
        if not self.disable_transform and spec.norm is not None:
            c = normalize(c, spec.norm)
        return c

    def categorical_id_column(self, spec: FeatureSpec) -> Column:
        """Impute -> ``id % embedding_size`` (reference
        ``transform_categorical``, ``data.py:166-183``). For list-type
        features the modulo maps over the array elements."""
        assert spec.embedding is not None
        size = spec.embedding.size
        if spec.type == "list":
            ids = F.col(spec.name)
            if not self.disable_imputation and spec.default is not None:
                ids = F.transform(ids, lambda x: impute(x, spec.default))
            return F.transform(ids, lambda x: mod_bucket(x, size))
        c: Column = F.col(spec.name)
        if not self.disable_imputation and spec.default is not None:
            c = impute(c, spec.default)
        return mod_bucket(c, size)

    def apply(self, df: DataFrame) -> DataFrame:
        """Apply every spec whose feature exists in ``df``: numeric
        features become transformed doubles, categorical features become
        bucketed embedding ids (ready for ``lookup_join`` /
        ``pooled_lookup``). Unlisted columns pass through untouched."""
        out = df
        for spec in self.feature_specs:
            if spec.name not in df.columns:
                continue
            col = (
                self.categorical_id_column(spec)
                if spec.is_categorical
                else self.numeric_column(spec)
            )
            out = out.withColumn(spec.name, col)
        return out


class CorpusSpec:
    """Config-as-code for the corpus-curation side: a JSON stage list
    drives the text-pipeline operators the way :class:`DataSpec` drives
    feature transforms — the same declarative philosophy the reference
    applies to its data pipelines, extended to curation.

    Stages (applied in order):
    - ``{"op": "quality_filter", "min_score": 0.5}`` — keep docs at or
      above the heuristic quality score;
    - ``{"op": "length_filter", "min_tokens": n, "max_tokens": m}``;
    - ``{"op": "exact_dedup"}`` — normalized-text exact dedup (min id
      survives);
    - ``{"op": "minhash_dedup", "threshold": 0.8, "keep": "longest"}``;
    - ``{"op": "boilerplate_prune", "max_df": 2}`` (rewrites text);
    - ``{"op": "hash_split", "weights": {"train": 0.98, ...}}`` —
      appends the split column;
    - ``{"op": "sample", "fraction": 0.5}`` — deterministic hash-rate
      sample;
    - ``{"op": "dsir_select", "target_expr": "source = 'wiki'",
      "n_buckets": 4096}`` — DSIR importance selection: keep docs more
      target-like than corpus average (round-12; zero-token docs carry
      no evidence and drop — the operator's contract);
    - ``{"op": "decontaminate", "eval": "evalset", "n": 3,
      "max_frac": 0.2}`` — span-level eval decontamination: drop docs
      whose covered-token fraction exceeds ``max_frac`` (the eval
      table comes from ``apply(tables=...)``); an eval doc duplicated
      into the corpus covers itself 100% and drops naturally;
    - ``{"op": "token_budget", "group": "source",
      "budget_frac_pct": 50, "max_epochs": 2, "rounds": 2}`` — compute
      the water-filled per-group token allocation and APPLY it: docs
      are taken per group in deterministic (md5-bucket, id) order
      while the group's cumulative token count stays within its
      allocation (zero-token docs cost nothing and always fit).

    Every stage resolves to the existing oracled operators, so a spec
    run is exactly the composition a hand-written pipeline would be
    (tested equal in tests/test_windows_features.py).
    """

    def __init__(self, stages: Sequence[dict]):
        self.stages = list(stages)

    @classmethod
    def read(cls, text: str) -> "CorpusSpec":
        return cls(json.loads(text))

    def apply(
        self,
        df: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        tables: dict[str, DataFrame] | None = None,
    ) -> DataFrame:
        from ..operators.corpus import boilerplate_prune, hash_split, hash_bucket
        from ..operators.dedup import exact_dedup, minhash_lsh_dedup
        from ..operators.text import quality_score, spread_small_scan, token_count

        # round-12 (guide §1.2/§2.5): spread a single-file corpus scan
        # once so every tokenize-heavy stage parallelizes, and cut each
        # filtering stage's KEPT-ID lineage below. Each stage's survivor
        # set otherwise re-evaluates the full upstream stage chain once
        # per downstream reference (stages reference their input 2-3x,
        # so stage-1 work replays up to ~3^(k-1) times by stage k); a
        # materialized id list keeps `out` = base scan + broadcast
        # semi-joins — the scoring work of each stage runs exactly once.
        out = spread_small_scan(df)

        for st in self.stages:
            op = st["op"]
            keep = None  # the ids a filtering stage keeps
            if op == "quality_filter":
                out = out.filter(
                    quality_score(F.col(text_col)) >= st["min_score"]
                )
            elif op == "length_filter":
                n = token_count(F.col(text_col))
                if "min_tokens" in st:
                    out = out.filter(n >= st["min_tokens"])
                if "max_tokens" in st:
                    out = out.filter(n <= st["max_tokens"])
            elif op == "exact_dedup":
                keep = exact_dedup(out, text_col, id_col).select(id_col)
            elif op == "minhash_dedup":
                keep = minhash_lsh_dedup(
                    out, text_col, id_col,
                    threshold=st.get("threshold", 0.8),
                    keep=st.get("keep", "min_id"),
                )
            elif op == "boilerplate_prune":
                pruned = boilerplate_prune(
                    out, id_col, text_col, max_df=st.get("max_df", 2)
                ).select(id_col, F.col("pruned_text").alias(text_col))
                pruned = materialize(pruned, eager=False)
                out = out.drop(text_col).join(pruned, id_col)
            elif op == "hash_split":
                out = hash_split(
                    out, F.col(id_col), weights=st.get("weights"),
                    seed=st.get("seed", 0),
                )
            elif op == "sample":
                frac = float(st["fraction"])
                bucket = hash_bucket(
                    F.col(id_col), n_buckets=1_000_000,
                    seed=st.get("seed", 0),
                )
                out = out.filter(bucket < int(frac * 1_000_000))
            elif op == "dsir_select":
                from ..operators.corpus import dsir_importance

                scored = dsir_importance(
                    out, F.expr(st["target_expr"]), id_col, text_col,
                    n_buckets=st.get("n_buckets", 4096),
                )
                if "min_bits" in st:
                    # calibrated cutoff: whole-bit integer scores are
                    # coarse, and on a broad target (many sources) the
                    # normalization term can push every doc below 0 —
                    # "selected" would then empty the corpus where the
                    # intent is "keep the most target-like tail"
                    kept = scored.filter(
                        F.col("dsir_bits") >= int(st["min_bits"])
                    )
                else:
                    kept = scored.filter("selected")
                keep = kept.select(id_col)
            elif op == "decontaminate":
                from ..operators.corpus import decontaminate_spans

                name = st["eval"]
                if tables is None or name not in tables:
                    raise ValueError(
                        f"decontaminate stage needs tables={{{name!r}: df}}"
                    )
                rep = decontaminate_spans(
                    out, tables[name], text_col, id_col, n=st.get("n", 3)
                )
                keep = rep.filter(
                    F.col("frac_covered") <= float(st.get("max_frac", 0.0))
                ).select(id_col)
            elif op == "token_budget":
                from pyspark.sql import Window

                from ..operators.corpus import token_budget_mix
                from ..operators.text import token_count

                grp = st["group"]
                alloc = token_budget_mix(
                    out, grp, text_col,
                    budget_frac_pct=st.get("budget_frac_pct", 50),
                    max_epochs=st.get("max_epochs", 2),
                    rounds=st.get("rounds", 2),
                ).select(grp, "alloc")
                w = (
                    Window.partitionBy(grp)
                    .orderBy(
                        hash_bucket(
                            F.col(id_col), n_buckets=1_000_000,
                            seed=st.get("seed", 0),
                        ),
                        F.col(id_col),
                    )
                    .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                out = (
                    out.withColumn(
                        "_cum_nt",
                        F.sum(token_count(F.col(text_col)).cast("long")).over(w),
                    )
                    .join(F.broadcast(alloc), grp)
                    .filter(F.col("_cum_nt") <= F.col("alloc"))
                    .drop("_cum_nt", "alloc")
                )
            else:
                raise ValueError(f"unknown corpus stage op: {op!r}")
            if keep is not None:
                keep = materialize(keep, eager=False)
                out = out.join(keep, id_col, "left_semi")
        return out
