"""py4j argument conversion for the thin Python wrappers over the Scala
operators (``graft.pipeline``, ``graft.temporal``, ``graft.streaming``).

A wrapper calls its Scala object's static forwarder directly, e.g.
``_pl().Stats.welchT(df._jdf, _seq(keys), group_col, value_col)``, and
passes every argument explicitly: py4j cannot reach Scala default
arguments. Numbers go through ``int``/``float`` first so a numpy scalar
or an integral float meets the JVM signature.
"""

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _sc():
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("graft: no active SparkContext; build a session "
                           "and call graft.init(spark) first")
    return sc


def _jvm():
    return _sc()._jvm


def _pl():
    """The JVM package ``graft.pipeline``."""
    return _jvm().graft.pipeline


def _seq(values):
    """A Scala ``Seq`` of the given strings, ints or JVM objects (a list
    of ``df._jdf`` gives a ``Seq[DataFrame]``)."""
    return _jvm().PythonUtils.toSeq(list(values))


def _long_array(values):
    """A JVM ``long[]``. py4j sends a small Python int as ``Integer``,
    which a generic Scala ``Seq[Long]``/``Option[Long]`` cannot unbox."""
    gw = _sc()._gateway
    arr = gw.new_array(gw.jvm.long, len(values))
    for i, v in enumerate(values):
        arr[i] = int(v)
    return arr


def _option_long(value):
    """A Scala ``Option[Long]``: ``None`` or a boxed ``java.lang.Long``."""
    if value is None:
        return _jvm().scala.Option.empty()
    return _jvm().scala.collection.immutable.ArraySeq.unsafeWrapArray(
        _long_array([value])).headOption()


def _option(jobj):
    """A Scala ``Option`` of a JVM object (``None`` gives ``None``)."""
    return _jvm().scala.Option.apply(jobj)


def _jc(c):
    """The JVM ``Column`` of a Column or a column name."""
    return (c if isinstance(c, Column) else F.col(c))._jc


def _wrap(owner, jdf):
    """A Python DataFrame over ``jdf`` in ``owner``'s session (``owner``
    is a DataFrame or a SparkSession)."""
    spark = owner if isinstance(owner, SparkSession) else owner.sparkSession
    return DataFrame(jdf, spark)
