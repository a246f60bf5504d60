package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.classic

/** By-name union that keeps both inputs as whole subtrees (the ColumnOf
  * bridge pattern: `ofRows` is `private[sql]`). `Dataset.unionByName`
  * applies `CombineUnions` as it builds the new Dataset, so a cached input
  * whose own plan ends in a union is flattened into the new one and the
  * cache lookup no longer finds it: a graph version written on top of a
  * cached version would re-derive that version from its base. The
  * optimizer still merges the unions later, after the cached plan has been
  * substituted. */
object UnionOf {
  def byName(a: DataFrame, b: DataFrame, allowMissingColumns: Boolean = false): DataFrame = {
    val l = a.asInstanceOf[classic.Dataset[Row]]
    val r = b.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(l.sparkSession,
      Union(l.logicalPlan :: r.logicalPlan :: Nil, byName = true, allowMissingCol = allowMissingColumns))
  }
}
