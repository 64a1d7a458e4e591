package equi7;

import java.io.Serializable;
import org.apache.spark.sql.api.java.UDF2;
import scala.collection.Seq;

/**
 * (a array<double>, b array<double>) -> cosine similarity
 * ab / (sqrt(aa) * sqrt(bb)), the three dot products accumulated left
 * to right over the dimension axis (acc = acc + a_d * b_d, one IEEE
 * multiply and add per term; Java never contracts them to an FMA).
 * Every partial sum, and so the result down to the last ulp, equals
 * the sequential HOF chain aggregate(zip_with(a, b, *), 0.0, +) and
 * DuckDB's list_dot_product.
 *
 * Hostile input never throws: a null array, a null element, arrays of
 * different lengths or a zero denominator (a zero vector, or two empty
 * arrays) give null, the try_divide semantics of the HOF chain; a NaN
 * element propagates as NaN. Registered as `equi7_cosine_seq`.
 */
public class CosineSeq implements UDF2<Seq<Double>, Seq<Double>, Double>, Serializable {
    @Override
    public Double call(Seq<Double> a, Seq<Double> b) {
        if (a == null || b == null) return null;
        int n = a.length();
        if (b.length() != n) return null;
        double ab = 0.0, aa = 0.0, bb = 0.0;
        for (int d = 0; d < n; d++) {
            Double x = a.apply(d);
            Double y = b.apply(d);
            if (x == null || y == null) return null;
            ab += x * y;
            aa += x * x;
            bb += y * y;
        }
        double den = Math.sqrt(aa) * Math.sqrt(bb);
        return den == 0.0 ? null : ab / den;
    }
}
