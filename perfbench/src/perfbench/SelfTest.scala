package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

/** Feeds deliberately corrupted results to the harness's output checks
  * and exits non-zero if any check accepts one. No Spark session. */
object SelfTest {
  import TableRw.{Rec, Schema}

  private def row(r: Rec, shard: Long): Row =
    new GenericRowWithSchema(Array[Any](r.key, r.version, r.v, r.name, shard.toInt), Schema)

  def main(args: Array[String]): Unit = {
    val shards = 16
    val model = Seq(Rec(3, 1, 10.5, "a"), Rec(17, 2, 20.25, "b"), Rec(40, 2, -1.0, "c"))
    def rows(rs: Seq[Rec]): Array[Row] = rs.map(r => row(r, r.key % shards)).toArray
    val cases = Seq(
      "table rows as read" -> TableRw.same(rows(model), model, shards),
      "table rows in another order" -> TableRw.same(rows(model.reverse), model, shards),
      "a write that commits once" -> TableRw.commitsOk(5, 6, 1),
      "a delete of no rows that commits nothing" -> TableRw.commitsOk(5, 5, 0))
    val corrupted = Seq(
      "a changed value" -> TableRw.same(rows(model.updated(1, model(1).copy(v = 20.26))), model, shards),
      "a stale version" -> TableRw.same(rows(model.updated(2, model(2).copy(version = 1))), model, shards),
      "a missing row" -> TableRw.same(rows(model.tail), model, shards),
      "a duplicated row" -> TableRw.same(rows(model :+ model.head), model, shards),
      "a row in the wrong shard" ->
        TableRw.same(rows(model.tail) :+ row(model.head, model.head.key % shards + 1), model, shards),
      "a change feed with deletes and inserts swapped" ->
        (TableRw.same(rows(model.take(1)), model.drop(1), shards) &&
          TableRw.same(rows(model.drop(1)), model.take(1), shards)),
      "a write that commits twice" -> TableRw.commitsOk(5, 7, 1),
      "a write that does not commit" -> TableRw.commitsOk(5, 5, 1),
      "a closure one pair short" -> EtlRegistry.closureOk(3000L * 10 - 1, 3000, 4))
    val failures = cases.filterNot(_._2).map(c => s"rejects correct ${c._1}") ++
      corrupted.filter(_._2).map(c => s"accepts ${c._1}")
    failures.foreach(f => System.err.println(s"selftest: check $f"))
    println(s"selftest: ${cases.size + corrupted.size - failures.size} of ${cases.size + corrupted.size} ok")
    if (failures.nonEmpty) sys.exit(1)
  }
}
