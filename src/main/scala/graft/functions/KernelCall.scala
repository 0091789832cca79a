package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.DataType

/** `name(children)`: one static call `owner.method(children...)`, null when
  * any child is null. The SQL functions of [[Gf]] that are a single kernel
  * call are all this one expression, one table row each.
  *
  * Codegen and interpreted eval both go through a Spark [[StaticInvoke]] of
  * the kernel, so whole-stage codegen emits one direct static call (no
  * ScalaUDF boxing, no kryo — SURVEY.md §2.9) and the interpreted path
  * resolves the reflective `Method` once per expression. The kernel takes
  * and returns the Java types of the Catalyst values (`byte[]`,
  * `UTF8String`, `ArrayData`, `InternalRow`, primitives); adapters for
  * kernels with Scala types live in [[CatalystHelpers]].
  *
  * Plans show only the SQL name and the children (`toString` and `sql` are
  * `name(children)`), so plan text and generated column names are those of
  * a hand-written expression. `returnNullable` marks a kernel that can
  * return null on non-null input. */
case class KernelCall(name: String, owner: Class[_], method: String,
                      dataType: DataType, children: Seq[Expression],
                      returnNullable: Boolean = false) extends Expression {

  @transient private lazy val invoke = StaticInvoke(owner, dataType, method, children,
    propagateNull = true, returnNullable = returnNullable)

  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override def nullable: Boolean = returnNullable || children.exists(_.nullable)
  override def nullIntolerant: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)
  // interpreted eval reuses the invoke's argument buffer: one copy per user
  override def stateful: Boolean = true

  override def eval(input: InternalRow): Any = invoke.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    invoke.doGenCode(ctx, ev)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KernelCall =
    copy(children = c)
}
