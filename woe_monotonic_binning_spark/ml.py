"""MLlib packaging: ``WOEBinner`` (Estimator) -> ``WOEBinnerModel`` (Model).

SURVEY.md section 7 P4: the fitted-model object of the reference — a
dict-of-bins-DataFrames returned by ``batch_woe_binning``
(/root/reference/woe_monotonic_binning/binning.py:78-100) and consumed by
``apply_bins`` (binning.py:268-304) — becomes a first-class Spark ML
``Estimator``/``Model`` pair so it composes inside ``pyspark.ml.Pipeline``
with scalers, assemblers and classifiers.

Persistence: ``model.save(path)`` writes the standard MLlib params metadata
plus the bins table as parquet under ``<path>/bins`` — the bins table (one
row per bin, 11 columns, SURVEY.md section 1.1c) IS the model, so the saved
artifact is both reloadable (``WOEBinnerModel.load``) and directly queryable
by any parquet reader.

Scale notes: ``fit`` runs the distributed fit of ``fit.fit_bins`` (one raw
data pass + tiny-summary pandas UDF); ``transform`` is a pure CASE-chain
projection compiled from the collected bins — zero shuffle, zero Python on
the scoring path, safe at any row count.
"""

from __future__ import annotations

import os

from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import (
    DefaultParamsReadable,
    DefaultParamsReader,
    DefaultParamsWritable,
    DefaultParamsWriter,
    MLReadable,
    MLWritable,
    MLWriter,
)
from pyspark.sql import DataFrame

from .fit import fit_bins
from .transform import apply_bins


class _WOEParams(Params):
    """Params shared by the estimator and the model."""

    targetCol = Param(
        Params._dummy(), "targetCol", "binary target column (bads = 1)",
        typeConverter=TypeConverters.toString,
    )
    inputCols = Param(
        Params._dummy(), "inputCols",
        "feature columns to bin; empty list = every numeric non-target column",
        typeConverter=TypeConverters.toListString,
    )
    nThreshold = Param(
        Params._dummy(), "nThreshold",
        "minimum bin size; <= 0 resolves to ceil(rows/20) like the reference default",
        typeConverter=TypeConverters.toFloat,
    )
    nOccurences = Param(
        Params._dummy(), "nOccurences", "minimum expected bads per bin",
        typeConverter=TypeConverters.toFloat,
    )
    pThreshold = Param(
        Params._dummy(), "pThreshold", "z-test p-value above which adjacent bins merge",
        typeConverter=TypeConverters.toFloat,
    )
    sepValue = Param(
        Params._dummy(), "sepValue",
        "special value forced into its own bin (NaN = disabled)",
        typeConverter=TypeConverters.toFloat,
    )
    mergeThreshold = Param(
        Params._dummy(), "mergeThreshold",
        "relative WOE-gap threshold for the post-fit merge loop (NaN = disabled)",
        typeConverter=TypeConverters.toFloat,
    )
    maxDistinct = Param(
        Params._dummy(), "maxDistinct",
        "scale guard: cap distinct values per variable via exact weighted "
        "quantile pre-binning (0 = disabled)",
        typeConverter=TypeConverters.toInt,
    )
    ivThreshold = Param(
        Params._dummy(), "ivThreshold", "drop variables with total IV below this",
        typeConverter=TypeConverters.toFloat,
    )
    binThreshold = Param(
        Params._dummy(), "binThreshold", "drop variables with fewer bins than this",
        typeConverter=TypeConverters.toInt,
    )
    remove100Corr = Param(
        Params._dummy(), "remove100Corr",
        "drop variables whose exact total IV was already seen (duplicate-feature proxy)",
        typeConverter=TypeConverters.toBoolean,
    )
    imputeMedian = Param(
        Params._dummy(), "imputeMedian",
        "impute missing values with the scoring dataset's exact median before "
        "encoding (reference quirk Q3); false leaves them NULL",
        typeConverter=TypeConverters.toBoolean,
    )
    keepCols = Param(
        Params._dummy(), "keepCols", "columns passed through the transform unchanged",
        typeConverter=TypeConverters.toListString,
    )

    def __init__(self) -> None:
        super().__init__()
        self._setDefault(
            targetCol="target", inputCols=[], nThreshold=0.0, nOccurences=1.0,
            pThreshold=0.1, sepValue=float("nan"), mergeThreshold=float("nan"),
            maxDistinct=0, ivThreshold=0.02, binThreshold=2, remove100Corr=True,
            imputeMedian=True, keepCols=[],
        )

    def _kw(self, **kwargs):
        self._set(**{k: v for k, v in kwargs.items() if v is not None})
        return self

    def getTargetCol(self) -> str:
        return self.getOrDefault(self.targetCol)

    def getInputCols(self) -> list[str]:
        return self.getOrDefault(self.inputCols)


def _nan_none(x: float) -> float | None:
    return None if x != x else x


class WOEBinner(_WOEParams, Estimator, DefaultParamsReadable, DefaultParamsWritable):
    """Estimator: learns monotonic WOE bins for each input column.

    >>> binner = WOEBinner(targetCol="target", inputCols=["x1", "x2"])
    >>> model = binner.fit(train_df)        # distributed fit, one data pass
    >>> scored = model.transform(score_df)  # adds x1_bin, x2_bin
    """

    def __init__(
        self,
        targetCol: str | None = None,
        inputCols: list[str] | None = None,
        nThreshold: float | None = None,
        nOccurences: float | None = None,
        pThreshold: float | None = None,
        sepValue: float | None = None,
        mergeThreshold: float | None = None,
        maxDistinct: int | None = None,
        ivThreshold: float | None = None,
        binThreshold: int | None = None,
        remove100Corr: bool | None = None,
        imputeMedian: bool | None = None,
        keepCols: list[str] | None = None,
    ) -> None:
        super().__init__()
        self._kw(
            targetCol=targetCol, inputCols=inputCols, nThreshold=nThreshold,
            nOccurences=nOccurences, pThreshold=pThreshold, sepValue=sepValue,
            mergeThreshold=mergeThreshold, maxDistinct=maxDistinct,
            ivThreshold=ivThreshold, binThreshold=binThreshold,
            remove100Corr=remove100Corr, imputeMedian=imputeMedian,
            keepCols=keepCols,
        )

    def setParams(self, **kwargs) -> "WOEBinner":
        return self._kw(**kwargs)

    def _fit(self, dataset: DataFrame) -> "WOEBinnerModel":
        n_thr = self.getOrDefault(self.nThreshold)
        max_distinct = self.getOrDefault(self.maxDistinct)
        bins = fit_bins(
            dataset,
            self.getTargetCol(),
            self.getInputCols() or None,
            n_threshold=n_thr if n_thr > 0 else None,
            n_occurences=self.getOrDefault(self.nOccurences),
            p_threshold=self.getOrDefault(self.pThreshold),
            sep_value=_nan_none(self.getOrDefault(self.sepValue)),
            merge_threshold=_nan_none(self.getOrDefault(self.mergeThreshold)),
            max_distinct=max_distinct if max_distinct > 0 else None,
        )
        # Materialise: the bins table is tiny (variables x bins rows) but its
        # lineage is the full distributed fit — without this, every
        # model.transform() / model.save() would re-run the fit over the
        # training data.  A local-relation copy pays the fit exactly once and
        # is immune to catalog.clearCache().
        bins = dataset.sparkSession.createDataFrame(bins.collect(), schema=bins.schema)
        model = WOEBinnerModel(bins)
        model._resetUid(self.uid)
        self._copyValues(model)
        return model


class WOEBinnerModel(_WOEParams, Model, MLReadable, MLWritable):
    """Fitted model: the bins table plus the transform gates.

    ``binsTable`` is the reference's ``is_df=True`` concatenated-bins shape
    (binning.py:271-277); ``transform`` compiles it into CASE-chain column
    expressions (binning.py:283-303 semantics, direction-aware inclusivity).
    """

    def __init__(self, bins: DataFrame | None = None) -> None:
        super().__init__()
        self._bins = bins

    @property
    def binsTable(self) -> DataFrame:
        if self._bins is None:
            raise ValueError("model has no bins table (not fitted / not loaded)")
        return self._bins

    def totalIv(self) -> DataFrame:
        """Per-variable total IV (NaN bin excluded), the model-selection stat."""
        from pyspark.sql import functions as F

        b = self.binsTable
        return (
            b.na.drop(subset=["interval_start_include", "interval_end_exclude"])
            .groupBy("variable")
            .agg(F.sum("iv_components").alias("iv_total"))
        )

    def _transform(self, dataset: DataFrame) -> DataFrame:
        keep = self.getOrDefault(self.keepCols)
        return apply_bins(
            dataset,
            self.binsTable,
            iv_threshold=self.getOrDefault(self.ivThreshold),
            bin_threshold=self.getOrDefault(self.binThreshold),
            remove_100_corr=self.getOrDefault(self.remove100Corr),
            keep_columns=keep or [c for c in dataset.columns],
            impute_median=self.getOrDefault(self.imputeMedian),
        )

    def psi(self, expected: DataFrame, actual: DataFrame, **kwargs) -> DataFrame:
        """Population drift of ``actual`` vs ``expected`` under THIS
        model's bins and transform gates — ``drift.psi_report`` wired to
        the model's own ivThreshold/binThreshold/remove100Corr params, so
        the monitored variable set is exactly what ``transform`` encodes.
        Feed to ``drift.psi_summary`` for the per-variable index."""
        from .drift import psi_report

        kwargs.setdefault("iv_threshold", self.getOrDefault(self.ivThreshold))
        kwargs.setdefault("bin_threshold", self.getOrDefault(self.binThreshold))
        kwargs.setdefault("remove_100_corr", self.getOrDefault(self.remove100Corr))
        return psi_report(expected, actual, self.binsTable, **kwargs)

    def characteristicStability(
        self, dataset: DataFrame, period_col: str | None = None, **kwargs
    ) -> DataFrame:
        """Per-bin WOE/IV audit of a labeled population under this model's
        fixed cuts (``drift.characteristic_stability`` with the model's
        target column and transform gates)."""
        from .drift import characteristic_stability

        kwargs.setdefault("iv_threshold", self.getOrDefault(self.ivThreshold))
        kwargs.setdefault("bin_threshold", self.getOrDefault(self.binThreshold))
        kwargs.setdefault("remove_100_corr", self.getOrDefault(self.remove100Corr))
        return characteristic_stability(
            dataset,
            self.binsTable,
            self.getTargetCol(),
            period_col=period_col,
            **kwargs,
        )

    def write(self) -> MLWriter:
        return _ModelWriter(self)

    @classmethod
    def read(cls) -> "_ModelReader":
        return _ModelReader(cls)


class _ModelWriter(DefaultParamsWriter):
    """The params metadata plus the bins table as parquet under ``bins``."""

    def saveImpl(self, path: str) -> None:  # noqa: D102
        super().saveImpl(path)
        self.instance.binsTable.write.mode("overwrite").parquet(os.path.join(path, "bins"))


class _ModelReader(DefaultParamsReader):
    def load(self, path: str) -> "WOEBinnerModel":  # noqa: D102
        instance = super().load(path)
        instance._bins = self.sparkSession.read.parquet(os.path.join(path, "bins"))
        return instance
