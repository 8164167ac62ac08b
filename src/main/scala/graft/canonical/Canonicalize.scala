package graft.canonical

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.schema.Mention

/** Entity canonicalization.
  *
  * Two layers:
  *
  *  1. [[CorefMerge]] — the reference's in-document coreference merge,
  *     exact semantics (`/root/reference/iepy/preprocess/stanford_preprocess.py:365-445`),
  *     a per-document local fold (no shuffle; runs inside `mapGroups`).
  *
  *  2. [[Canonicalize.components]] — the cross-document canonicalization of
  *     the north star: two entities of one kind merge when their aliases
  *     share a surface form. The forms refine into the folded form
  *     ([[foldedExpr]]), so a connected component IS a (kind, folded-form)
  *     hub group ([[hubExpr]]): CC is one algebraic `min` aggregation per
  *     hub, whose partial aggregation (map-side combine) absorbs
  *     alias-frequency skew before the shuffle. The streaming linker keys
  *     its touch detection on the same hub.
  */
object Canonicalize {

  /** Separator runs the fold removes — the ONE copy of the fold regexp
    * (the in-document surface chains of [[CorefChains]] apply it too). */
  private[graft] val FoldSeparators = "[-_\\s]+"

  /** The folded form of an `alias` column: lowercase with separator runs
    * removed, unifying snake_case / camelCase / kebab-case identifiers —
    * the code-corpus analog of IEPy's surface-form identity
    * (`stanford_preprocess.py:285-304`). A pure Catalyst expression
    * (codegen-friendly, no UDF).
    *
    * HARD CONTRACT (the refinement chain): every surface form in
    * [[formsExpr]] refines into the folded form — two aliases sharing ANY
    * form also share the folded form (exact equality => lower equality =>
    * folded equality), and folding is idempotent. That makes "shares a
    * form with" transitive through the folded form, so a component is
    * exactly a [[hubExpr]] group and [[components]] needs no propagation
    * rounds. A normalizer that can CHAIN (edit-distance buckets,
    * token-prefix families, embedding buckets, sparse similarity joins)
    * breaks the contract: components would silently under-merge, and
    * `components(verifyConverged = true)` fails. Such a normalizer needs
    * iterative min-propagation back in [[components]] (and component-hop
    * closure in the streaming linker's touch detection) — no count or
    * knob of the hub aggregation can recover the missing merges. */
  private[graft] def foldedExpr: Column =
    regexp_replace(lower(col("alias")), FoldSeparators, "")

  /** The hub key of an entity row: kind + folded form. kind is part of
    * the key, so entities never merge across kinds (reference
    * `stanford_preprocess.py:366-374`); concat_ws skips a null folded
    * form, so null aliases of one kind share the bare-kind hub. */
  private[graft] def hubExpr: Column =
    concat_ws(" ", col("kind"), foldedExpr)

  /** Every surface form of an `alias` column: exact, lowercase, folded.
    * Only the [[requireConverged]] guard reads it — the guard checks
    * that merging along ALL these forms adds nothing beyond the hub. */
  private[graft] def formsExpr: Column =
    array_distinct(array(col("alias"), lower(col("alias")), foldedExpr))

  /** Connected components over shared (kind, surface-form) edges.
    *
    * Input: DataFrame [entity_key: String, kind: String, alias: String]
    * (optionally from_gazette: Boolean). Output: DataFrame
    * [entity_key, canonical] where canonical is the component
    * representative's entity_key.
    *
    * By the refinement-chain contract at [[foldedExpr]] a component is a
    * [[hubExpr]] group: one algebraic min aggregation on the hub plus
    * one dimension join maps entities to their hub's winner — one
    * shuffle of (hub, init) pairs with map-side combine (hot-alias skew
    * is absorbed: CanonicalizeSkewSpec). `verifyConverged = true` proves
    * the contract on the actual data with [[requireConverged]] (costs
    * one action; test/debug only). */
  def components(spark: SparkSession, entities: DataFrame,
      verifyConverged: Boolean = false): DataFrame = {
    import spark.implicits._
    // The component id IS the canonical pick: aggregate the minimum of
    // struct(gaz_rank, entity_key), so gazette-born readable keys win the
    // representative election and no separate ranking join is needed.
    val gazRank =
      if (entities.columns.contains("from_gazette"))
        when(col("from_gazette"), 0).otherwise(1)
      else lit(0)
    val keyed = entities.select($"entity_key", hubExpr.as("hub"),
      struct(gazRank.as("r"), $"entity_key".as("k")).as("init"))
    // byHub is component-count-sized — far below the entity table; AQE
    // broadcasts it when measured small, no hint (see the TextOps note).
    val byHub = keyed.groupBy($"hub").agg(min($"init").as("component"))
    val canonical = keyed.join(byHub, "hub")
      .select($"entity_key", $"component.k".as("canonical"))
    if (verifyConverged) requireConverged(entities, canonical)
    canonical
  }

  /** The refinement-chain guard: one full min-propagation round over ALL
    * (entity, kind + surface-form) edges of `entities` must leave the
    * `canonical` labelling unchanged, which holds iff no form edge joins
    * two differently labelled entities (no under-merge). Throws
    * IllegalArgumentException ("not converged") otherwise. */
  private[graft] def requireConverged(entities: DataFrame,
      canonical: DataFrame): Unit = {
    val edges = entities
      .select(col("entity_key"), col("kind"), explode(formsExpr).as("f"))
      .select(col("entity_key"),
        concat_ws(" ", col("kind"), col("f")).as("form"))
    val frozen = canonical.persist()
    val byForm = edges.join(frozen, "entity_key")
      .groupBy(col("form")).agg(min(col("canonical")).as("fcomp"))
    val changed = edges.join(byForm, "form")
      .groupBy(col("entity_key")).agg(min(col("fcomp")).as("next"))
      .join(frozen, "entity_key")
      .where(col("next") =!= col("canonical")).count()
    frozen.unpersist()
    require(changed == 0,
      s"CC not converged: $changed entities still moving — a normalizer " +
        "violates the refinement-chain contract (see foldedExpr)")
  }
}

/** Reference-faithful in-document coreference merge (P11). */
object CorefMerge {

  final case class CorefError(msg: String) extends Exception(msg)

  /** One coref chain: (i, j, head) token spans, representative first. */
  type Chain = Seq[(Int, Int, Int)]

  /** Entity view needed by the merge: key + kind + gazette linkage. */
  final case class Ent(key: String, kind: String, gazette: Option[String])

  /** Apply one chain to a document's mentions
    * (`stanford_preprocess.py:377-445`). Returns the updated mention list.
    *
    * - no existing occurrence at any head token -> nothing happens
    * - representants pickable only if non-anaphora; none -> nothing
    * - mixed kinds or >=2 distinct gazette items -> CorefError
    * - canonical = first NER-born (non-gazette) pickable entity, else
    *   first pickable
    * - missing chain references created as anaphora=True occurrences
    *   (phrases of >=5 tokens shrink to the head token)
    * - all occurrences of merged entities re-pointed to canonical
    */
  def applyChain(
      docId: String,
      tokens: Array[String],
      mentions: Seq[Mention],
      entityOf: String => Ent,
      chain: Chain): Seq[Mention] = {
    val byToken = mutable.Map.empty[Int, mutable.ArrayBuffer[Mention]]
    mentions.foreach { m =>
      (m.offset until m.offset_end).foreach { i =>
        byToken.getOrElseUpdate(i, mutable.ArrayBuffer.empty) += m
      }
    }
    val entities = mutable.ArrayBuffer.empty[String]
    val pickable = mutable.ArrayBuffer.empty[String]
    val missing = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    chain.sorted.foreach { case (i, j, head) =>
      byToken.get(head) match {
        case Some(ms) if ms.nonEmpty =>
          ms.foreach { m =>
            entities += m.entity_key
            if (!m.anaphora) pickable += m.entity_key
          }
        case _ => missing += ((i, j, head))
      }
    }
    if (pickable.isEmpty) return mentions
    val ents = entities.map(entityOf)
    if (ents.map(_.kind).distinct.size != 1)
      throw CorefError(s"Cannot merge entities of different kinds")
    if (ents.flatMap(_.gazette).distinct.size > 1)
      throw CorefError(s"Cannot merge entities of different gazette items")

    val fromNer = pickable.filter(k => entityOf(k).gazette.isEmpty)
    val canonical = if (fromNer.nonEmpty) fromNer.head else pickable.head
    val canonicalEnt = entityOf(canonical)

    val created = missing.map { case (i0, j0, head) =>
      val (i, j) = if (j0 - i0 >= 5) (head, head + 1) else (i0, j0)
      Mention(docId, i, j, canonicalEnt.kind,
        tokens.slice(i, j).mkString(" "), canonical,
        from_gazette = canonicalEnt.gazette.isDefined, ner_rank = 0,
        anaphora = true)
    }.filterNot(c => mentions.exists(m =>
      m.offset == c.offset && m.offset_end == c.offset_end))

    val merged = entities.toSet - canonical
    val repointed = mentions.map { m =>
      if (merged.contains(m.entity_key)) m.copy(entity_key = canonical)
      else m
    }
    repointed ++ created
  }

  /** Apply a document's chains in order, swallowing per-chain merge
    * refusals the way the reference logs-and-continues on
    * CoreferenceError (`stanford_preprocess.py:131-133`). */
  def applyChains(
      docId: String,
      tokens: Array[String],
      mentions: Seq[Mention],
      entityOf: String => Ent,
      chains: Seq[Chain]): Seq[Mention] =
    chains.foldLeft(mentions) { (ms, ch) =>
      try applyChain(docId, tokens, ms, entityOf, ch)
      catch { case _: CorefError => ms }
    }
}
