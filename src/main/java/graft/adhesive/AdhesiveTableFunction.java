package graft.adhesive;

import org.apache.spark.sql.Row;

/**
 * Base class for dynamically-registered TABLE functions — with
 * {@link Adhesive} (scalar) and {@link AdhesiveAggregate}, the third UDF
 * variant of the extension point the reference left open
 * ({@code RegisterFunction::Scalar} is its only enum case,
 * {@code /root/reference/src/fusion.rs:78}). A user supplies a subclass via
 * {@code CREATE TABLE FUNCTION name(args) RETURNS TABLE(col TYPE, ...)
 * LANGUAGE JAVA AS '<source>'} and implements {@link #eval(Row)}: one call
 * per argument tuple, returning the output rows for that tuple.
 *
 * <p>Contract:
 * <ul>
 *   <li><b>Arguments</b> are read positionally from the argument row,
 *       exactly like {@link Adhesive#compute}. The row is valid only during
 *       the call; the rows returned are converted before the next call, so
 *       returning the argument row itself is safe, but keeping it after the
 *       call is not. {@code args.copy()} returns a row that keeps the
 *       values.</li>
 *   <li><b>Each returned {@code Row}</b> must match the declared
 *       {@code RETURNS TABLE} schema positionally — build them with
 *       {@code org.apache.spark.sql.RowFactory.create(...)}. A {@code null}
 *       return or an empty list produces no rows for that tuple.</li>
 *   <li><b>Execution shape.</b> The function runs as a Catalyst generator
 *       ({@code Generate}/{@code Inline}) — each input row fans out to its
 *       output rows inside the stage, with no shuffle introduced by the
 *       function itself. In {@code FROM}-clause position the arguments are
 *       literals; in {@code LATERAL} position they may reference the outer
 *       query's columns and {@code eval} runs once per outer row.</li>
 *   <li><b>One instance per JVM</b>, no-arg constructor, shared across
 *       tasks — keep {@code eval} self-contained per call.</li>
 *   <li><b>{@code eval} must be deterministic</b> (a pure function of its
 *       arguments). Table functions are registered deterministic by
 *       contract — Spark's analyzer rejects non-deterministic lateral
 *       subqueries, and {@code LATERAL} is this variant's main use. This
 *       differs from scalar adhesive functions, whose volatile-by-default
 *       mirrors the reference.</li>
 * </ul>
 */
public abstract class AdhesiveTableFunction implements java.io.Serializable {

    /** Produce the output rows for one argument tuple. */
    public abstract java.util.List<Row> eval(Row args);
}
