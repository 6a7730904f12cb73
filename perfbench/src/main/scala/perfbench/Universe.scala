package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import graft.yougile.{Fixtures, FixtureGen, YouGileConfig}
import graft.yougile.Model._

/** Size of one ETL workload, and its object page limit (the other page
  * limits are `YouGileConfig`'s defaults).
  */
case class Shape(
    contracts: Int, // contracts in allow-listed columns (the per-column fetch)
    columns: Int, // board columns; three in four sit on allow-listed boards
    maxLots: Int, // a regular contract references 1..maxLots lots
    objectPageLimit: Int)

/** One page the stub serves: the rendered envelope and its item count. */
final case class Page(bytes: Array[Byte], items: Int)

/** A seeded YouGile universe at benchmark scale, with the fixture's board
  * allow-list, sticker ids, run timestamp and anomaly mix (FixtureGen):
  * contracts without `stickers`, stale state ids, lots with `deleted`
  * true/false/absent, duplicate and missing lot references, lot-less
  * contracts and a few columns with no tasks.
  *
  * Pages are split by `limits`' page limits. The same seed and shape give
  * byte-identical pages; [[digest]] is printed at setup so two builds can
  * be shown to serve the same input.
  */
final class Universe(val limits: YouGileConfig, val u: FixtureGen.Universe, val missingLots: Int) {
  import Universe._

  private def allowedColumnIds: Seq[String] = {
    val allowed = u.boards.filter(b => Fixtures.allowedBoards.contains(b.title)).map(_.id).toSet
    u.columns.filter(c => allowed.contains(c.boardId)).map(_.id)
  }

  private def contractsIn(colId: String): Seq[TaskObj] = byColumn.getOrElse(colId, Nil)
  private lazy val byColumn: Map[String, Seq[TaskObj]] = u.tracked.groupBy(_.columnId.get)

  /** Every page keyed as the stub looks it up (see [[key]]). */
  lazy val pages: Map[String, Page] = {
    val out = Map.newBuilder[String, Page]
    def render(method: String, colId: Option[String], limit: Int, includeDeleted: Boolean,
        items: Seq[ObjectNode]): Unit = {
      val chunks = if (items.isEmpty) Seq(Seq.empty[ObjectNode]) else items.grouped(limit).toSeq
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        val env = om.createObjectNode()
        env.putObject("paging").put("next", i < chunks.size - 1)
        val content = env.putArray("content")
        chunk.foreach(content.add)
        out += key(method, colId, i * limit, limit, includeDeleted) ->
          Page(om.writeValueAsBytes(env), chunk.size)
      }
    }
    render("boards", None, limits.dictPageLimit, includeDeleted = false, u.boards.map { b =>
      val n = om.createObjectNode()
      n.put("id", b.id); n.put("title", b.title); n.put("projectId", b.projectId); n
    })
    render("columns", None, limits.dictPageLimit, includeDeleted = false, u.columns.map { c =>
      val n = om.createObjectNode()
      n.put("id", c.id); n.put("title", c.title); n.put("boardId", c.boardId); n
    })
    render("string-stickers", None, limits.dictPageLimit, includeDeleted = false, u.dicts.map { d =>
      val n = om.createObjectNode()
      n.put("id", d.id); n.put("name", d.name)
      val a = n.putArray("states")
      d.states.foreach { s =>
        val sn = om.createObjectNode(); sn.put("id", s.id); sn.put("name", s.name); a.add(sn)
      }
      n
    })
    allowedColumnIds.foreach { c =>
      render("tasks", Some(c), limits.contractPageLimit, includeDeleted = false, contractsIn(c).map(taskNode))
    }
    render("tasks", None, limits.objectPageLimit, includeDeleted = true, u.allObjects.map(taskNode))
    out.result()
  }

  private def pageCount(items: Int, limit: Int): Int = math.max(1, (items + limit - 1) / limit)

  /** Requests a complete extract makes, in closed form from the universe. */
  def expectedRequests: Long = {
    val dicts = Seq(u.boards.size, u.columns.size, u.dicts.size).map(pageCount(_, limits.dictPageLimit)).sum
    val perColumn = allowedColumnIds.map(c => pageCount(contractsIn(c).size, limits.contractPageLimit)).sum
    (dicts + perColumn + pageCount(u.allObjects.size, limits.objectPageLimit)).toLong
  }

  /** Items a complete extract receives, in closed form from the universe. */
  def expectedItems: Long =
    (u.boards.size + u.columns.size + u.dicts.size + u.tracked.size + u.allObjects.size).toLong

  /** SHA-256 over every page in key order. */
  def digest: String = {
    val md = MessageDigest.getInstance("SHA-256")
    pages.toSeq.sortBy(_._1).foreach { case (k, p) => md.update(k.getBytes(UTF_8)); md.update(p.bytes) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Relational mirrors of a complete extract, in the layout the
    * `yg_mart` oracle SQL reads (the fixture's `parquet/` directory).
    */
  def writeMirrors(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    def save(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    save(u.boards.toDF(), "boards")
    save(u.columns.toDF(), "columns")
    save(u.dicts.toDS().toDF(), "stickers")
    save(u.tracked.toDS().select($"id", $"title", $"timestamp", $"columnId", $"subtasks", $"stickers"),
      "contracts")
    save(u.allObjects.toDS().select($"id", $"title", $"deleted", $"stickers",
      $"deadline.startDate".as("deadline_start_ms"), $"deadline.deadline".as("deadline_end_ms")),
      "subtask_objects")
  }
}

object Universe {
  private val om = new ObjectMapper()

  def key(method: String, columnId: Option[String], offset: Int, limit: Int, includeDeleted: Boolean): String =
    s"$method|${columnId.getOrElse("all")}|$offset|$limit|$includeDeleted"

  private def uid(kind: Int, n: Int): String = f"$kind%08x-00${kind & 0xff}%02x-4000-8000-$n%012x"

  private def taskNode(t: TaskObj): ObjectNode = {
    val n = om.createObjectNode()
    n.put("id", t.id); n.put("title", t.title); n.put("timestamp", t.timestamp)
    t.columnId.foreach(n.put("columnId", _))
    t.subtasks.foreach { ss => val a = n.putArray("subtasks"); ss.foreach(a.add) }
    t.deleted.foreach(n.put("deleted", _))
    t.stickers.foreach { m =>
      val o = n.putObject("stickers"); m.foreach { case (k, v) => o.put(k, v) }
    }
    t.deadline.foreach { d =>
      val o = n.putObject("deadline")
      d.startDate.foreach(o.put("startDate", _))
      d.deadline.foreach(o.put("deadline", _))
    }
    n
  }

  def generate(shape: Shape, limits: YouGileConfig, seed: Long): Universe = {
    val r = new java.util.Random(seed)
    def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
    def maybe[A](p: Double)(a: => A): Option[A] = if (r.nextDouble() < p) Some(a) else None
    def epochMs(): Long = 1704067200000L + (r.nextInt(540).toLong * 86400000L) + r.nextInt(86400000)
    def dateStr(): String = f"${1 + r.nextInt(28)}%02d.${1 + r.nextInt(12)}%02d.${2024 + r.nextInt(2)}"

    // every fourth board is outside the allow-list, so with columns dealt
    // round-robin over a multiple of four boards, 3/4 of columns are tracked
    val nBoards = 4 * math.max(1, shape.columns / 100)
    val boards = (0 until nBoards).map { i =>
      val title = if (i % 4 == 3) "Архив" else Fixtures.allowedBoards(i % 4)
      Board(uid(1, i), title, uid(9, i % 3))
    }
    val columns = (0 until shape.columns).map(i => BoardColumn(uid(2, i), s"Колонка $i", boards(i % nBoards).id))
    val tracked = columns.filter(c => boards.exists(b => b.id == c.boardId && b.title != "Архив"))
    val untrackedCols = columns.filterNot(tracked.contains)

    def states(kind: Int, names: Seq[String]): Seq[StickerState] =
      names.zipWithIndex.map { case (n, i) => StickerState(uid(kind, i), n) }
    val contractStates = states(0x30, Seq("Активная", "Завершена", "Расторгнута"))
    val deliveryStates = states(0x31, Seq("FOB", "CIF", "DAP", "EXW"))
    val lotStates = states(0x32, Seq("Запланирован", "Погрузка", "В пути", "Доставлен"))
    val placeStates = states(0x33, Seq("Новороссийск", "Тамань", "Высоцк"))
    val provStates = states(0x34, Seq("Да", "Нет"))
    val finalStates = states(0x35, Seq("Да", "Нет", "Частично"))
    val dicts = Seq(
      StickerDict(Stickers.ContractStatus, HubNames.ContractStatus, contractStates),
      StickerDict(Stickers.DeliveryTerm, HubNames.DeliveryTerm, deliveryStates),
      StickerDict(Stickers.LotStatus, HubNames.LotStatus, lotStates),
      StickerDict(Stickers.LoadingPlace, HubNames.LoadingPlace, placeStates),
      StickerDict(Stickers.ProvPaid, HubNames.ProvPaid, provStates),
      StickerDict(Stickers.FinalPaid, HubNames.FinalPaid, finalStates),
      StickerDict(uid(0x3f, 0), "Менеджер", states(0x36, Seq("Иванов", "Петрова"))),
      StickerDict(uid(0x3f, 1), "Заметки", Nil))

    def loadingDates(): String =
      if (r.nextInt(10) == 0) dateStr()
      else {
        val (a, b) = (dateStr(), dateStr())
        r.nextInt(4) match {
          case 0 => s"$a - $b"
          case 1 => s"$a-$b"
          case 2 => s" $a -$b"
          case _ => s"$a- $b "
        }
      }

    val lots = ArrayBuffer.empty[TaskObj]
    def newLot(): TaskObj = {
      val stickers: Option[Map[String, String]] = maybe(0.95) {
        val m = scala.collection.immutable.VectorMap.newBuilder[String, String]
        maybe(0.85)(if (r.nextDouble() < 0.05) uid(0xdd, 9) else pick(deliveryStates).id)
          .foreach(m += Stickers.DeliveryTerm -> _)
        maybe(0.90)(if (r.nextDouble() < 0.05) uid(0xdd, 8) else pick(lotStates).id)
          .foreach(m += Stickers.LotStatus -> _)
        maybe(0.80)(pick(placeStates).id).foreach(m += Stickers.LoadingPlace -> _)
        maybe(0.70)(s"MV ATLAS-${r.nextInt(90)}").foreach(m += Stickers.ShipName -> _)
        maybe(0.75)(if (r.nextDouble() < 0.10) "" else s"${1000 + r.nextInt(9000)}.${r.nextInt(10)}")
          .foreach(m += Stickers.QuantityPlan -> _)
        maybe(0.70)(if (r.nextDouble() < 0.10) "" else s"${1000 + r.nextInt(9000)}.${r.nextInt(10)}")
          .foreach(m += Stickers.QuantityFact -> _)
        r.nextInt(100) match {
          case n if n < 40 => m += Stickers.DischargingPlace1 -> pick(Seq("Rotterdam", "Стамбул", "Mersin"))
          case n if n < 65 => m += Stickers.DischargingPlace2 -> pick(Seq("Alexandria", "Бейрут"))
          case n if n < 75 =>
            m += Stickers.DischargingPlace1 -> "Rotterdam"
            m += Stickers.DischargingPlace2 -> "IGNORED-slot2"
          case _ =>
        }
        r.nextInt(100) match {
          case n if n < 45 => m += Stickers.LoadingDates1 -> loadingDates()
          case n if n < 70 => m += Stickers.LoadingDates2 -> loadingDates()
          case n if n < 80 =>
            m += Stickers.LoadingDates1 -> loadingDates()
            m += Stickers.LoadingDates2 -> loadingDates()
          case _ =>
        }
        maybe(0.60)(pick(provStates).id).foreach(m += Stickers.ProvPaid -> _)
        maybe(0.55)(pick(finalStates).id).foreach(m += Stickers.FinalPaid -> _)
        m.result()
      }
      val deleted = r.nextInt(100) match {
        case n if n < 8 => Some(true)
        case n if n < 50 => Some(false)
        case _ => None
      }
      val deadline = r.nextInt(10) match {
        case n if n < 7 => Some(Deadline(Some(epochMs()), Some(epochMs())))
        case 7 => Some(Deadline(Some(epochMs()), None))
        case _ => None
      }
      val lot = TaskObj(uid(4, lots.size + 1), s"Лот ${lots.size + 1}", epochMs(), None, None, deleted, stickers, deadline)
      lots += lot
      lot
    }

    var cN = 0
    def newContract(col: BoardColumn, i: Int): TaskObj = {
      cN += 1
      val stickers: Option[Map[String, String]] = r.nextInt(100) match {
        case n if n < 5 => None
        case n if n < 12 => Some(Map.empty)
        case n if n < 17 => Some(Map(Stickers.ContractStatus -> uid(0xdd, 7)))
        case _ => Some(Map(Stickers.ContractStatus -> pick(contractStates).id))
      }
      val subtasks: Option[Seq[String]] =
        if (i % 11 == 0) None
        else if (i % 13 == 0) Some(Nil)
        else if (i % 97 == 30) { val x = newLot().id; Some(Seq(x, x)) }
        else if (i % 37 == 5) Some(Seq(newLot().id, uid(0xee, cN)))
        else Some(Seq.fill(1 + r.nextInt(shape.maxLots))(newLot().id))
      TaskObj(uid(3, cN), s"Сделка ${col.title}-$cN", epochMs(), Some(col.id), subtasks, None, stickers, None)
    }

    // every 50th tracked column stays empty (an empty-content page)
    val filled = tracked.zipWithIndex.collect { case (c, i) if i % 50 != 7 => c }
    val contracts = (0 until shape.contracts).map(i => newContract(filled(r.nextInt(filled.size)), i))
    // contracts on archived boards: only the global object fetch sees them
    val untracked = (0 until shape.contracts / 10).map(i => newContract(untrackedCols(i % untrackedCols.size), i))
    // lot references of fetched contracts that no object answers: the rows
    // the pipeline's data-loss probe must find
    val lotIds = lots.iterator.map(_.id).toSet
    val missingLots = contracts.iterator.flatMap(_.subtasks.getOrElse(Nil)).count(id => !lotIds(id))
    new Universe(limits, FixtureGen.Universe(boards, columns, dicts, contracts, untracked, lots.toSeq), missingLots)
  }
}
