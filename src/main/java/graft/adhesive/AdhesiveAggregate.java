package graft.adhesive;

import org.apache.spark.sql.Row;

/**
 * Base class for dynamically-registered AGGREGATE functions — the variant
 * the reference never closed ({@code RegisterFunction::Scalar} is its only
 * enum case, {@code /root/reference/src/fusion.rs:78}). A user supplies a
 * subclass via {@code CREATE AGGREGATE FUNCTION ... LANGUAGE JAVA AS
 * '<source>'} (or {@code LANGUAGE CLASS}/{@code SCALA}) and implements the
 * four classic distributed-aggregation callbacks; the engine plans them as
 * a map-side partial aggregation: {@code reduce} runs locally per partition
 * and only the small per-partition states cross the shuffle, where
 * {@code merge} combines them — the shape that scales to 100 TB. A
 * {@code STATE} of BIGINT, INT, SMALLINT, TINYINT, FLOAT, DOUBLE or BOOLEAN
 * lives in a fixed-width slot of a hash-aggregation buffer; any other
 * {@code STATE} is held as an object by Spark's object hash aggregation,
 * which turns sort-based past 128 groups per task.
 *
 * <p>A state arrives in {@code reduce}, {@code merge} and {@code finish}
 * as the Java type of its declared {@code STATE}, and the callbacks return
 * it the same way:
 * <ul>
 *   <li>BIGINT, INT, SMALLINT, TINYINT, FLOAT, DOUBLE, BOOLEAN — the boxed
 *       {@code Long}, {@code Integer}, {@code Short}, {@code Byte},
 *       {@code Float}, {@code Double}, {@code Boolean};</li>
 *   <li>STRING — {@code String}; BINARY — {@code byte[]};</li>
 *   <li>DECIMAL(p,s) — {@code java.math.BigDecimal};</li>
 *   <li>DATE / TIMESTAMP — {@code java.sql.Date} /
 *       {@code java.sql.Timestamp} ({@code java.time.LocalDate} /
 *       {@code Instant} under {@code spark.sql.datetime.java8API.enabled},
 *       as for arguments);</li>
 *   <li>ARRAY&lt;T&gt; — {@code java.util.List} (an {@code ArrayList});
 *       MAP&lt;K,V&gt; — {@code java.util.Map} (a {@code HashMap}); both
 *       mutable, also when nested in an ARRAY or MAP, so a fold may update
 *       its state in place and return it;</li>
 *   <li>STRUCT&lt;...&gt; — {@link Row}, built with
 *       {@code RowFactory.create(...)} and read with the positional
 *       getters.</li>
 * </ul>
 *
 * <p>Contract:
 * <ul>
 *   <li><b>{@code zero()}</b> — the identity state. Must be non-null and a
 *       value of the declared {@code STATE} type (which defaults to the
 *       {@code RETURNS} type when omitted).</li>
 *   <li><b>{@code reduce(state, input)}</b> — fold one input row into the
 *       state and return the new state. Arguments are read positionally from
 *       {@code input}, exactly like {@link Adhesive#compute}. The
 *       {@code input} row is valid only during the call: it may be reused
 *       for the next input row, so it must not become part of the state;
 *       {@code input.copy()} returns a row that keeps the values.</li>
 *   <li><b>{@code merge(a, b)}</b> — combine two partial states (across
 *       partitions / shuffle). Must be commutative and associative, and
 *       treat {@code zero()} as the identity — Spark chooses the merge tree
 *       freely.</li>
 *   <li><b>{@code finish(state)}</b> — map the final state to the declared
 *       {@code RETURNS} type; defaults to the identity. May return
 *       {@code null} (a null result slot for an empty-or-filtered
 *       group).</li>
 *   <li><b>One instance per JVM</b>, created via the no-arg constructor and
 *       shared across tasks — state must flow through the callback
 *       arguments, never through instance fields.</li>
 * </ul>
 */
public abstract class AdhesiveAggregate implements java.io.Serializable {

    /** The identity state (non-null, of the declared STATE type). */
    public abstract Object zero();

    /** Fold one input row into the state; return the new state. */
    public abstract Object reduce(Object state, Row input);

    /** Combine two partial states; commutative and associative. */
    public abstract Object merge(Object a, Object b);

    /** Map the final state to the result; identity by default. */
    public Object finish(Object state) {
        return state;
    }
}
