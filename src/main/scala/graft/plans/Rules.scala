package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructType}

/** Engine-side optimizer rule (SURVEY §7.3 path (c) demonstration):
  * `size(filter(arr, λ)) > 0`  -> `exists(arr, λ)` and
  * `size(filter(arr, λ)) = 0`  -> `NOT exists(arr, λ)`.
  *
  * The left form materializes the filtered array and counts it; `exists`
  * short-circuits on the first match — on long inner lists (the jagged
  * data this engine targets) that's an asymptotic win, and it is exactly
  * the kind of nested-expression rewrite Catalyst doesn't do itself.
  *
  * ArrayExists is built with followThreeValuedLogic=false so the rewrite
  * is semantics-preserving when the predicate returns null (filter treats
  * null as drop; 3VL exists would return null instead of false).
  */
object SizeFilterToExists extends Rule[LogicalPlan] {

  private def exists(arr: Expression, f: Expression): Expression =
    ArrayExists(arr, f, followThreeValuedLogic = false)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case GreaterThan(Size(ArrayFilter(arr, f), _), Literal(0, IntegerType)) =>
        exists(arr, f)
      case LessThan(Literal(0, IntegerType), Size(ArrayFilter(arr, f), _)) =>
        exists(arr, f)
      case EqualTo(Size(ArrayFilter(arr, f), _), Literal(0, IntegerType)) =>
        Not(exists(arr, f))
      case EqualTo(Literal(0, IntegerType), Size(ArrayFilter(arr, f), _)) =>
        Not(exists(arr, f))
    }
}

/** Extract-first rewrite for HOF nested pruning (the engine's one real
  * optimizer-parity gap vs the reference's buffer-level necessary-columns,
  * `reference src/dask_awkward/lib/optimize.py:69-223`): Spark's
  * SchemaPruning does not see through lambda variables, so
  * `transform(points, p -> p.x * 2)` reads the FULL element struct from
  * parquet even though only `x` is touched. The documented manual idiom
  * (extract fields first, then run HOFs on the extracted arrays —
  * COVERAGE.md §2.2) is exactly mechanical, so this rule performs it:
  *
  *   transform(arr, p -> f(p.x))      -> transform(arr.x, v -> f(v))
  *   transform(arr, p -> f(p.x, p.y)) -> zip_with(arr.x, arr.y,
  *                                         (vx, vy) -> f(vx, vy))
  *   exists/forall(arr, p -> pred(p.x)) -> exists/forall(arr.x, v -> pred(v))
  *   aggregate(arr, z, (acc, p) -> m(acc, p.x), fin)
  *                                    -> aggregate(arr.x, z, (acc, v) ->
  *                                         m(acc, v), fin)
  *
  * after which `arr.x` is a GetArrayStructFields that SchemaPruning DOES
  * understand, and the scan's ReadSchema drops the untouched fields — on
  * a 100 TB corpus whose element structs carry wide payload fields, the
  * difference is reading the whole nested column vs one leaf.
  *
  * Round 14 extends the rewrite to the previously-guarded shapes
  * (r13 verdict item 4 — finishing parity with the reference's
  * buffer-level necessary-columns, `lib/optimize.py:69-223`):
  *
  *   (a) N >= 3 leaves over a cheap array:
  *       transform(arr, p -> f(p.x, p.y, p.z))
  *         -> transform(arrays_zip(arr.x, arr.y, arr.z), s ->
  *              f(s.x, s.y, s.z))
  *   (b) index-form lambdas: transform(arr, (p, i) -> f(p.x, i))
  *         -> transform(arr.x, (v, i) -> f(v, i))   (same length, same
  *       indices; the multi-leaf index form rides the arrays_zip shape)
  *   (c) COMPUTED (non-cheap) multi-leaf arrays, without duplicating the
  *       computation, via Spark 4's common-expression machinery:
  *       transform(expensive, p -> f(p.x, p.y))
  *         -> With(expensive) { c -> zip_with(c.x, c.y, f) }
  *       RewriteWithExpression later materializes `c` ONCE in a Project
  *       under the consumer. Introduced only at Project nodes whose
  *       array expression captures no outer lambda variable and holds no
  *       aggregate — the shapes RewriteWithExpression is specified for.
  *
  * Semantics-preserving by construction: a null element yields null
  * extracted leaves exactly as `p.x` on a null `p` does (arrays_zip of
  * the extracted leaves yields a struct of nulls at that position, and
  * the rewritten body only reads fields of it — identical results);
  * zip_with/arrays_zip combine equal-length arrays extracted from the
  * SAME input; element order and 3VL flags are preserved node-for-node.
  * Remaining guards: every use of the element variable is a direct
  * field access, and exists/forall/aggregate stay single-leaf (their
  * predicates rarely touch more). Fires in the operator-optimization
  * batch, which runs BEFORE SchemaPruning's "Early Filter and Projection
  * Push-Down" batch (and before "Rewrite With expression", which
  * consumes the With forms this rule emits — pinned in
  * Round14RuleSpec). */
object TransformFieldExtraction extends Rule[LogicalPlan] {

  private def bareUse(e: Expression, v: NamedLambdaVariable): Boolean =
    e match {
      case GetStructField(nv: NamedLambdaVariable, _, _)
          if nv.exprId == v.exprId => false
      case nv: NamedLambdaVariable if nv.exprId == v.exprId => true
      case other => other.children.exists(bareUse(_, v))
    }

  private def cheap(e: Expression): Boolean = e match {
    case _: Attribute => true
    case GetStructField(c, _, _) => cheap(c)
    case _ => false
  }

  private def structArray(arr: Expression): Option[(ArrayType, StructType)] =
    arr.dataType match {
      case at @ ArrayType(st: StructType, _) => Some((at, st))
      case _ => None
    }

  private def ordsOf(body: Expression, v: NamedLambdaVariable): Seq[Int] =
    body.collect {
      case GetStructField(nv: NamedLambdaVariable, ord, _)
          if nv.exprId == v.exprId => ord
    }.distinct.sorted

  private def extract(arr: Expression, at: ArrayType, st: StructType,
      ord: Int): Expression =
    GetArrayStructFields(arr, st(ord), ord, st.length,
      at.containsNull || st(ord).nullable)

  private def leafVar(v: NamedLambdaVariable, at: ArrayType, st: StructType,
      ord: Int): NamedLambdaVariable =
    NamedLambdaVariable(v.name + "_" + st(ord).name,
      st(ord).dataType, at.containsNull || st(ord).nullable)

  /** Single-leaf rewrite shared by every HOF shape: if the element
    * variable is used only as `v.field` for exactly ONE field, return
    * (extracted array, fresh leaf variable, rewritten body). */
  private def single(arr: Expression, v: NamedLambdaVariable,
      body: Expression)
      : Option[(Expression, NamedLambdaVariable, Expression)] =
    structArray(arr).flatMap { case (at, st) =>
      if (bareUse(body, v)) None
      else ordsOf(body, v) match {
        case Seq(ord) => Some(leafRewrite(arr, at, st, ord, v, body))
        case _ => None
      }
    }

  /** The rewrite of `body` reading only field `ord` of `v`: (the leaf
    * array extracted from `arr`, a fresh leaf variable, `body` with each
    * `v.field` read replaced by that variable). */
  private def leafRewrite(arr: Expression, at: ArrayType, st: StructType,
      ord: Int, v: NamedLambdaVariable, body: Expression)
      : (Expression, NamedLambdaVariable, Expression) = {
    val nv = leafVar(v, at, st, ord)
    val nb = body.transformUp {
      case GetStructField(x: NamedLambdaVariable, o, _)
          if x.exprId == v.exprId && o == ord => nv
    }
    (extract(arr, at, st, ord), nv, nb)
  }

  /** Multi-leaf rewrite over ONE reference to `arr` (which may be a
    * CommonExpressionRef when the caller With-wraps a computed array):
    * zip the extracted leaf arrays and read zipped-struct fields in the
    * body. Used for N >= 3 leaves and for every index-form multi-leaf
    * lambda (ZipWith has no index parameter). */
  private def zipRewrite(arr: Expression, at: ArrayType, st: StructType,
      ords: Seq[Int], v: NamedLambdaVariable, body: Expression,
      extraVars: Seq[NamedLambdaVariable], hidden: Boolean): Expression = {
    val zipped = ArraysZip(ords.map(extract(arr, at, st, _)),
      ords.map(o => Literal(st(o).name)))
    val ArrayType(zst: StructType, zcn) = zipped.dataType: @unchecked
    val sv = NamedLambdaVariable(v.name + "_z", zst, zcn)
    val ordIdx = ords.zipWithIndex.toMap
    val nb = body.transformUp {
      case GetStructField(x: NamedLambdaVariable, o, _)
          if x.exprId == v.exprId =>
        GetStructField(sv, ordIdx(o), Some(st(o).name))
    }
    ArrayTransform(zipped, LambdaFunction(nb, sv +: extraVars, hidden))
  }

  /** The transform-shape rewrite against a given reference to the array
    * (`arr` for cheap arrays; a CommonExpressionRef under With for
    * computed ones). Returns None when no profitable rewrite applies. */
  private def rewriteTransform(arrRef: Expression, at: ArrayType,
      st: StructType, ords: Seq[Int], v: NamedLambdaVariable,
      body: Expression, extraVars: Seq[NamedLambdaVariable],
      hidden: Boolean): Option[Expression] = ords match {
    case Seq(ord) =>
      val (leaf, nv, nb) = leafRewrite(arrRef, at, st, ord, v, body)
      Some(ArrayTransform(leaf, LambdaFunction(nb, nv +: extraVars, hidden)))
    case Seq(o1, o2) if extraVars.isEmpty =>
      // the pinned two-leaf form: zip_with over the two extracted leaves
      val n1 = leafVar(v, at, st, o1)
      val n2 = leafVar(v, at, st, o2)
      val nb = body.transformUp {
        case GetStructField(x: NamedLambdaVariable, o, _)
            if x.exprId == v.exprId =>
          if (o == o1) n1 else n2
      }
      Some(ZipWith(extract(arrRef, at, st, o1), extract(arrRef, at, st, o2),
        LambdaFunction(nb, Seq(n1, n2), hidden)))
    case _ if ords.size >= 2 =>
      Some(zipRewrite(arrRef, at, st, ords, v, body, extraVars, hidden))
    case _ => None // Seq(): element var unused — nothing to extract
  }

  /** Match a transform whose lambda touches only leaf fields of a
    * struct-array element: (arr, at, st, ords, v, body, extraVars,
    * hidden). extraVars carries the index variable of the (elem, idx)
    * form through the rewrite untouched. */
  private object LeafOnlyTransform {
    def unapply(e: Expression): Option[(Expression, ArrayType, StructType,
        Seq[Int], NamedLambdaVariable, Expression,
        Seq[NamedLambdaVariable], Boolean)] = e match {
      case ArrayTransform(arr, LambdaFunction(body,
          (v: NamedLambdaVariable) +: (rest: Seq[NamedLambdaVariable] @unchecked),
          hidden))
          // an arrays_zip input is already leaf-extracted — matching it
          // again would re-zip its own output forever (fixpoint loop)
          // for zero pruning gain
          if rest.size <= 1 && !arr.isInstanceOf[ArraysZip] =>
        structArray(arr).collect {
          case (at, st) if !bareUse(body, v) =>
            (arr, at, st, ordsOf(body, v), v, body, rest, hidden)
        }
      case _ => None
    }
  }

  /** A With-wrapped computed array is only sound where
    * RewriteWithExpression can hoist the definition into a Project: no
    * FREE lambda variable (one bound by an ENCLOSING lambda — variables
    * bound by lambdas inside `arr` itself, e.g. a filter's own
    * predicate, are fine), no aggregate, deterministic. */
  private def withSafe(arr: Expression): Boolean = {
    val bound = arr.collect {
      case LambdaFunction(_, args, _) => args.map(_.exprId)
    }.flatten.toSet
    !arr.exists {
      case v: NamedLambdaVariable => !bound(v.exprId)
      case _: org.apache.spark.sql.catalyst.expressions.aggregate
        .AggregateExpression => true
      case _ => false
    } && arr.deterministic
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val pass1 = plan.transformAllExpressions {
      case t @ LeafOnlyTransform(arr, at, st, ords, v, body, extra, hidden)
          if ords.size == 1 || cheap(arr) =>
        // single leaf touches arr once — duplication-free at any cost;
        // multi-leaf duplicates arr per leaf, so require a cheap chain
        rewriteTransform(arr, at, st, ords, v, body, extra, hidden)
          .getOrElse(t)
      case e @ ArrayExists(arr,
          LambdaFunction(body, Seq(v: NamedLambdaVariable), hidden), tvl) =>
        single(arr, v, body).fold(e: Expression) { case (ea, nv, nb) =>
          ArrayExists(ea, LambdaFunction(nb, Seq(nv), hidden), tvl)
        }
      case f @ ArrayForAll(arr,
          LambdaFunction(body, Seq(v: NamedLambdaVariable), hidden)) =>
        single(arr, v, body).fold(f: Expression) { case (ea, nv, nb) =>
          ArrayForAll(ea, LambdaFunction(nb, Seq(nv), hidden))
        }
      case a @ ArrayAggregate(arr, zero,
          LambdaFunction(mbody,
            Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), hidden),
          finish) =>
        single(arr, v, mbody).fold(a: Expression) { case (ea, nv, nb) =>
          ArrayAggregate(ea, zero,
            LambdaFunction(nb, Seq(acc, nv), hidden), finish)
        }
    }
    // pass 2 — (c): computed multi-leaf arrays, Project-scoped, one
    // evaluation via With. Pass 1 already consumed every cheap shape.
    var introducedWith = false
    val pass2 = pass1.transform {
      case p: Project => p.mapExpressions(_.transformUp {
        case LeafOnlyTransform(arr, at, st, ords, v, body, extra, hidden)
            if ords.size >= 2 && !cheap(arr) && withSafe(arr) =>
          introducedWith = true
          With(arr) { refs =>
            rewriteTransform(refs.head, at, st, ords, v, body, extra,
              hidden).get
          }
      })
    }
    // The stock "Rewrite With expression" batch runs BEFORE the
    // operator-optimization batch this rule is injected into, so a With
    // introduced here would reach physical planning Unevaluable —
    // consume it now with the same machinery (hoists the definition
    // into a Project below the consumer; CollapseProject later declines
    // to re-inline a non-cheap alias referenced twice, so the single
    // evaluation sticks).
    if (introducedWith)
      org.apache.spark.sql.catalyst.optimizer.RewriteWithExpression(pass2)
    else pass2
  }
}
