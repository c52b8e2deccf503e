# -*- coding: utf-8 -*-
"""PySpark wrapper for the graft spatial-join transformer.

py4j mirror of ``graft.transformer.BroadcastSpatialJoin`` (same 12-param
surface as the reference wrapper at
src/main/python/me/valik/spark/transformer.py in
vasnake/spark.ml.SpatialJoinTransformer, reimplemented dict-driven).
Only params and DataFrame handles cross the Python/JVM boundary; all data
stays JVM-side. Requires the graft assembly jar on the Spark classpath.

Example::

    poi = spark.createDataFrame([("a", 1.1, 3.1)], ["poi_id", "lon", "lat"])
    poi.createOrReplaceTempView("poi")
    df = spark.createDataFrame([(0, 1.0, 3.0)], ["id", "lon", "lat"])
    out = BroadcastSpatialJoin(
        dataset="poi", dataColumns="poi_id",
        datasetPoint="lon, lat", inputPoint="lon, lat").transform(df)
"""

from pyspark import keyword_only
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import JavaMLReadable, JavaMLWritable
from pyspark.ml.wrapper import JavaTransformer

__all__ = ["BroadcastSpatialJoin"]

# param name -> (doc, setter name, default)
_PARAMS = {
    "condition": ("extra join condition over left./right. columns, any "
                  "Spark SQL boolean expression", "setJoinCondition", ""),
    "filter": ("Spark SQL filter applied to the external dataset before "
               "the join", "setDatasetFilter", ""),
    "broadcast": ("which side is broadcast: 'input' (default), 'external', "
                  "'none' for the partitioned grid join, or 'auto' to pick "
                  "external-vs-grid from the external table's size estimate "
                  "against spark.sql.autoBroadcastJoinThreshold",
                  "setBroadcast", "input"),
    "predicate": ("spatial op: withindist N, within, contains, intersects, "
                  "overlaps, nearest", "setPredicate", "nearest"),
    "dataset": ("external dataset name registered in the SQL catalog",
                "setDataset", ""),
    "dataColumns": ("external column names to append, CSV with optional "
                    "aliases: 'id as poi_id, name'", "setDataColumns", ""),
    "distanceColumnAlias": ("non-empty => append geodesic distance column "
                            "(Int metres)", "setDistColAlias", ""),
    "datasetWKT": ("external dataset geometry column (WKT)",
                   "setDatasetWKT", ""),
    "datasetPoint": ("external dataset point columns, e.g. 'lon, lat'",
                     "setDatasetPoint", ""),
    "inputWKT": ("input geometry column (WKT)", "setInputWKT", ""),
    "inputPoint": ("input point columns, e.g. 'lon, lat'",
                   "setInputPoint", ""),
    "numPartitions": ("external dataset repartition count; no repartition "
                      "if empty", "setNumPartitions", ""),
    # grid-strategy extensions (beyond the reference's 12-param surface)
    "gridKnn": ("grid nearest: k for k-nearest — up to k ranked rows per "
                "input row plus a trailing knn_rank column; empty/1 = "
                "plain nearest; requires predicate=nearest and "
                "broadcast='none'", "setGridKnn", ""),
    "joinType": ("'inner' (default); 'left': keep every input row, "
                 "nulling the appended external columns (and distance) "
                 "when nothing matches; 'semi' / 'anti': input rows with / "
                 "without a match, input schema only (not with "
                 "predicate=nearest); non-inner types require "
                 "broadcast != 'input'",
                 "setJoinType", "inner"),
}


class BroadcastSpatialJoin(JavaTransformer, JavaMLReadable, JavaMLWritable):
    """Spatial inner join of the input DataFrame with a catalog table."""

    _fqn = "graft.transformer.BroadcastSpatialJoin"

    @keyword_only
    def __init__(self, **kwargs):
        super(BroadcastSpatialJoin, self).__init__()
        self._java_obj = self._new_java_obj(self._fqn, self.uid)
        self._setDefault(**{n: d for n, (_, _, d) in _PARAMS.items()})
        self.setParams(**kwargs)

    @keyword_only
    def setParams(self, **kwargs):
        self._set(**{k: v for k, v in kwargs.items() if v is not None})
        return self


def _install_params(cls):
    for name, (doc, setter, _default) in _PARAMS.items():
        setattr(cls, name,
                Param(Params._dummy(), name, doc,
                      typeConverter=TypeConverters.toString))

        def make_accessors(param_name):
            def set_(self, value):
                return self._set(**{param_name: value})
            def get_(self):
                return self.getOrDefault(getattr(self, param_name))
            return set_, get_

        set_, get_ = make_accessors(name)
        setattr(cls, setter, set_)
        setattr(cls, "get" + name[0].upper() + name[1:], get_)
    return cls


_install_params(BroadcastSpatialJoin)
