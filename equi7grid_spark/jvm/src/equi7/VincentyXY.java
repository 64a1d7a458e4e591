package equi7;

import java.io.Serializable;
import org.apache.spark.sql.api.java.UDF3;

/** (zone code, lon, lat) -> [x, y] AEQD meters; null for a null
 *  argument, a zone code outside 0..6 or a NaN/infinite coordinate,
 *  never throws. Registered as SQL function `equi7_xy` (see
 *  equi7grid_spark/operators/kernel.py). */
public class VincentyXY implements UDF3<Byte, Double, Double, double[]>, Serializable {
    @Override
    public double[] call(Byte zc, Double lon, Double lat) {
        if (!Vincenty.zone(zc) || !Vincenty.finite(lon) || !Vincenty.finite(lat)) return null;
        double[] out = new double[2];
        Vincenty.forward(zc.intValue(), lon, lat, out);
        return out;
    }
}
