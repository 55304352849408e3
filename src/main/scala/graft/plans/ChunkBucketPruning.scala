package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast, EqualTo, Expression, Literal, Pmod, PredicateHelper, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.store.TableStore

/** Optimizer rule (SURVEY §4.2 optional custom `Rule[LogicalPlan]`):
  * whenever a plan filters a chunk-shaped relation (one that carries the
  * `doc_bucket` partition column) on `document_id = <literal>`, inject the
  * matching `doc_bucket = pmod(xxhash64(id), nBuckets)` predicate.
  *
  * The injected expression is foldable, so ConstantFolding turns it into
  * a literal partition filter and the scan prunes to 1 of N partitions —
  * users (and ad-hoc SQL) get the SURVEY §7.4.7 storage layout's benefit
  * without knowing the bucketing convention. Idempotent: skips filters
  * that already mention doc_bucket.
  *
  * Bucket count comes from the table's `buckets` prop, else from
  * `spark.graft.chunkBuckets` (default 16), which must then match the
  * ingest configuration.
  */
class ChunkBucketPruning(spark: SparkSession)
  extends Rule[LogicalPlan] with PredicateHelper {

  // the scanned table's `buckets` prop (the `_graft_buckets` marker the
  // ingest writes next to the data), read from its version-checked
  // snapshot so a re-bucket prunes with the new modulus from the next
  // plan on; conf is the fallback
  private def buckets(child: LogicalPlan): Long =
    child.collectFirst { case rel: LogicalRelation => rel.relation }
      .collect { case h: HadoopFsRelation => h.location.rootPaths }
      .flatMap(_.headOption)
      .flatMap(root =>
        try TableStore.snapshotAt(spark, root).flatMap(_.props.get("buckets"))
        catch { case _: Exception => None })
      .fold(spark.conf.get("spark.graft.chunkBuckets", "16").toLong)(_.toLong)

  /** A document_id equality that constrains the WHOLE filter — i.e. it is
    * one of the top-level conjuncts. An equality nested under Not/Or must
    * NOT trigger injection (e.g. the cascade-delete complement
    * `NOT (document_id = x)` matches every bucket).
    */
  private def docIdEquality(cond: Expression): Option[Literal] =
    splitConjunctivePredicates(cond).collectFirst {
      case EqualTo(a: Attribute, l: Literal)
        if a.name == "document_id" && l.dataType == LongType => l
      case EqualTo(l: Literal, a: Attribute)
        if a.name == "document_id" && l.dataType == LongType => l
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child)
      if child.output.exists(_.name == "doc_bucket") &&
        !cond.references.exists(_.name == "doc_bucket") =>
      docIdEquality(cond) match {
        case Some(idLit) =>
          val bucketAttr = child.output.find(_.name == "doc_bucket").get
          val bucketOfId =
            Pmod(new XxHash64(Seq(idLit)), Literal(buckets(child), LongType))
          val pred = EqualTo(bucketAttr,
            if (bucketAttr.dataType == IntegerType)
              Cast(bucketOfId, IntegerType)
            else bucketOfId)
          Filter(And(cond, pred), child)
        case None => f
      }
  }
}
