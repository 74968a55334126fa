package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Execution context handed to every node: the session plus resolved
  * services. Spark-side analog of Bonobo's node context + services dict
  * (`@use_context`, `/root/reference/bonobo_sqlalchemy/readers.py:6,51`).
  * Schema control (`context.set_output_fields`, `readers.py:73-74`) is
  * subsumed by the DataFrame's plan-time `StructType`.
  */
final case class RunContext(spark: SparkSession, services: ServiceRegistry)

/** A transformation node: `DataFrame => DataFrame` with access to the run
  * context. Plain callables/generators in the reference
  * (`tests/test_integration.py:130-152`) map onto this shape — generators
  * (1→N) are `flatMap`/`explode` inside the stage, sinks are stages whose
  * side effect is a write and whose return value is the written rows
  * (the reference re-emits written rows downstream, `writers.py:70-73`).
  */
trait Node extends Serializable {
  def apply(in: DataFrame, ctx: RunContext): DataFrame
}

object Node {
  /** Lift a context-free `DataFrame => DataFrame` into a node. */
  def apply(f: DataFrame => DataFrame): Node = (in, _) => f(in)

  /** Console sink for inspection — `bonobo.PrettyPrinter()` analog
    * (`examples/sequel_extract.py:12`). Pass-through: rows continue
    * downstream, as in the reference. */
  def prettyPrinter(numRows: Int = 20): Node = (in, _) => {
    in.show(numRows, truncate = false)
    in
  }
}

/** A source node: produces a DataFrame from nothing (the reference's
  * generator nodes and `Select`, `readers.py:51-77`). */
trait SourceNode extends Serializable {
  def apply(ctx: RunContext): DataFrame
}

/** Linear pipeline of nodes, mirroring `bonobo.Graph(*nodes)` /
  * `graph.add_chain(*nodes)` (`examples/select_insert.py:13-16`,
  * `tests/test_integration.py:173-174`). Spark's lazy logical plan IS the
  * DAG — there is no scheduler, no per-node thread, no inter-node queue;
  * consecutive nodes become pipelined narrow transformations (one
  * whole-stage-codegen span) unless a node introduces an exchange.
  *
  * An empty chain is legal and is the identity, as in the reference.
  */
final case class Chain(nodes: Vector[Node] = Vector.empty) {
  def add(more: Node*): Chain = copy(nodes = nodes ++ more)
  def add(f: DataFrame => DataFrame): Chain = add(Node(f))

  def apply(in: DataFrame, ctx: RunContext): DataFrame =
    nodes.foldLeft(in)((df, node) => node(df, ctx))
}

/** A full graph: a source chained into transformation nodes. `run` is the
  * single action boundary (`bonobo.run(graph, services=...)`,
  * `tests/test_integration.py:175`): everything before it is lazy plan
  * construction; materialization happens in the terminal stage (a sink
  * node's write) or in the caller's action on the returned DataFrame.
  */
final case class Graph(source: SourceNode, chain: Chain = Chain()) {
  def add(more: Node*): Graph = copy(chain = chain.add(more: _*))
  def add(f: DataFrame => DataFrame): Graph = copy(chain = chain.add(f))

  def run(spark: SparkSession,
          services: ServiceRegistry = ServiceRegistry()): DataFrame = {
    val ctx = RunContext(spark, services)
    chain(source(ctx), ctx)
  }
}

object Graph {
  def apply(source: SourceNode, nodes: Node*): Graph =
    Graph(source, Chain(nodes.toVector))
}
