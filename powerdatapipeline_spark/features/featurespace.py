"""FeatureSpace analog: declarative, two-phase fit/transform feature
preprocessing (reference ``get_featurespace_definitions`` / ``get_featurespace``
/ ``apply_featurespace``, datapipeline.py:273-401).

The reference adapts Keras preprocessing layers on the first N rows and maps
them over the stream, archiving fitted state to ``.keras`` files
(config/config.py:57-59,136-139). Here:

  * **fit** = ONE aggregation pass (mean/var_pop/min/max per numeric feature,
    distinct scan per vocab feature) over ``limit(n)`` or the full data —
    stats collect to the driver (a few floats per column).
  * **transform** = pure column expressions built from those stats as
    literals — broadcast-free (literals ride in the serialized plan), fully
    codegen'd, identical in batch and streaming.
  * **persistence** = JSON (replaces the reference's ``.keras`` archives).

Output modes per feature type, mirroring the reference's registry
(datapipeline.py:283-361):
  float: ``plain`` | ``normalized`` (z-score, population variance —
         numpy ``.var()`` parity, SURVEY.md Appendix A.10) | ``rescaled``
         (min-max)
  int:   ``plain`` | ``one_hot`` (fixed depth, default 5 — the reference
         hard-codes 5, Appendix A.7; configurable here)
  string: ``one_hot`` (distinct-scan vocabulary, sorted for determinism)
  datetimestamp_seconds: ``plain`` | ``cyclical_minute`` | ``cyclical_hour``
         | ``cyclical_day`` | ``cyclical_minute_hour_day`` (exact π,
         Appendix A.1)
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from powerdatapipeline_spark.functions.datetime_funcs import _cyclical


@dataclass
class FeatureSpec:
    name: str
    feature_type: str           # float | int | string | datetimestamp_seconds
    output_mode: str = "plain"  # see module docstring
    one_hot_depth: int = 5      # reference hard-codes 5 (datapipeline.py:239)
    skip_normalization: bool = False  # identity stats (mean 0 var 1) — reference tfdataset_utilities.py:96-99


@dataclass
class FeatureSpace:
    specs: list[FeatureSpec]
    stats: dict = field(default_factory=dict)  # name -> fitted stats
    fitted: bool = False

    # -- fit ---------------------------------------------------------------
    def fit(self, df: DataFrame, n_rows: int | None = None) -> "FeatureSpace":
        """Adapt statistics on the first ``n_rows`` (reference
        ``get_featurespace``: ``adapt(dataset.take(n))``,
        datapipeline.py:364-374). EXACTLY ONE Spark job regardless of how
        many features: numeric stats and every vocab
        (``sort_array(collect_set)``) ride the same aggregation — k string
        features no longer cost k distinct-scan jobs over the sample
        (job count pinned by test_fit_is_single_job). Vocabs are tiny by
        contract (one-hot output), so collecting them driver-side is the
        point, not a leak; nulls are excluded (a null vocab entry could
        never match its one-hot comparison anyway)."""
        sample = df.limit(n_rows) if n_rows else df
        exprs: list[Column] = []
        for s in self.specs:
            if s.feature_type == "float" and s.output_mode == "normalized" and not s.skip_normalization:
                exprs += [F.avg(s.name).alias(f"{s.name}__mean"),
                          F.var_pop(s.name).alias(f"{s.name}__var")]
            elif s.feature_type == "float" and s.output_mode == "rescaled":
                exprs += [F.min(s.name).alias(f"{s.name}__min"),
                          F.max(s.name).alias(f"{s.name}__max")]
            elif s.feature_type == "string" and s.output_mode == "one_hot":
                exprs += [F.sort_array(F.collect_set(F.col(s.name)))
                          .alias(f"{s.name}__vocab")]
        row = sample.agg(*exprs).first().asDict() if exprs else {}

        def num(name, key):
            # decimal columns aggregate to Decimal, which JSON cannot hold
            v = row[f"{name}__{key}"]
            return None if v is None else float(v)

        for s in self.specs:
            if s.feature_type == "float" and s.output_mode == "normalized":
                if s.skip_normalization:
                    self.stats[s.name] = {"mean": 0.0, "var": 1.0}
                else:
                    self.stats[s.name] = {"mean": num(s.name, "mean"),
                                          "var": num(s.name, "var")}
            elif s.feature_type == "float" and s.output_mode == "rescaled":
                self.stats[s.name] = {"min": num(s.name, "min"),
                                      "max": num(s.name, "max")}
            elif s.feature_type == "string" and s.output_mode == "one_hot":
                self.stats[s.name] = {"vocab": list(row[f"{s.name}__vocab"])}
        self.fitted = True
        return self

    # -- transform ---------------------------------------------------------
    def transform_columns(self) -> list[Column]:
        """Fitted stats → flat list of output column expressions (the
        reference flattens nested FeatureSpace output and repairs column
        order, datapipeline.py:389-398 — here order is by construction)."""
        if not self.fitted:
            raise RuntimeError("FeatureSpace not fitted; call fit() first")
        cols: list[Column] = []
        for s in self.specs:
            cols.extend(c for _, c in self._feature_columns(s))
        return cols

    def transform(self, df: DataFrame, keep: list[str] | None = None) -> DataFrame:
        base = [F.col(c) for c in (keep or [])]
        return df.select(*base, *self.transform_columns())

    def _feature_columns(self, s: FeatureSpec) -> list[tuple[str, Column]]:
        """Returns (output_name, expression) pairs so names never have to be
        recovered from the plan."""
        c = F.col(s.name)
        if s.feature_type == "float":
            if s.output_mode == "plain":
                return [(s.name, c.cast("double").alias(s.name))]
            if s.output_mode == "normalized":
                st = self.stats[s.name]
                denom = math.sqrt(st["var"]) if st["var"] and st["var"] > 0 else 1.0
                return [(s.name, ((c - F.lit(st["mean"])) / F.lit(denom)).alias(s.name))]
            if s.output_mode == "rescaled":
                st = self.stats[s.name]
                span = (st["max"] - st["min"]) or 1.0
                return [(s.name, ((c - F.lit(st["min"])) / F.lit(span)).alias(s.name))]
        if s.feature_type == "int":
            if s.output_mode == "plain":
                return [(s.name, c.cast("double").alias(s.name))]
            if s.output_mode == "one_hot":
                # one-hot as named columns f"{name}_onehot_{i}" (reference
                # expands names the same way, datapipeline.py:256-257)
                return [(f"{s.name}_onehot_{i}",
                         F.when(c == i, 1.0).otherwise(0.0).alias(f"{s.name}_onehot_{i}"))
                        for i in range(s.one_hot_depth)]
        if s.feature_type == "string" and s.output_mode == "one_hot":
            vocab = self.stats[s.name]["vocab"]
            return [(f"{s.name}_onehot_{i}",
                     F.when(c == F.lit(v), 1.0).otherwise(0.0).alias(f"{s.name}_onehot_{i}"))
                    for i, v in enumerate(vocab)]
        if s.feature_type == "datetimestamp_seconds":
            if s.output_mode == "plain":
                return [(s.name, c.cast("double").alias(s.name))]
            if s.output_mode.startswith("cyclical"):
                periods = {"cyclical_minute": ["minute"], "cyclical_hour": ["hour"],
                           "cyclical_day": ["day"],
                           "cyclical_minute_hour_day": ["minute", "hour", "day"]}[s.output_mode]
                cols = _cyclical(c, periods, prefix=f"{s.name}_")
                names = []
                for p in periods:
                    names += [f"{s.name}_sin_{p}", f"{s.name}_cos_{p}"]
                return list(zip(names, cols))
        raise ValueError(f"unsupported feature spec: {s}")

    def output_names(self) -> list[str]:
        """Combined ordered output names (reference
        ``get_combined_featurenames``, datapipeline.py:477-481)."""
        return [n for s in self.specs for n, _ in self._feature_columns(s)]

    # -- persistence (JSON replaces .keras archives) -----------------------
    def to_json(self) -> str:
        return json.dumps({
            "specs": [s.__dict__ for s in self.specs],
            "stats": self.stats, "fitted": self.fitted,
        })

    @classmethod
    def from_json(cls, payload: str) -> "FeatureSpace":
        d = json.loads(payload)
        fs = cls(specs=[FeatureSpec(**s) for s in d["specs"]])
        fs.stats, fs.fitted = d["stats"], d["fitted"]
        return fs

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, path: str) -> "FeatureSpace":
        with open(path) as f:
            return cls.from_json(f.read())
