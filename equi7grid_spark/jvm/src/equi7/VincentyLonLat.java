package equi7;

import java.io.Serializable;
import org.apache.spark.sql.api.java.UDF3;

/** (zone code, x, y) -> [lon, lat] -- the AEQD inverse (Vincenty
 *  direct problem); null for a null argument, a zone code outside 0..6
 *  or a NaN/infinite coordinate, never throws. Registered as SQL
 *  function `equi7_lonlat` (see equi7grid_spark/operators/kernel.py). */
public class VincentyLonLat implements UDF3<Byte, Double, Double, double[]>, Serializable {
    @Override
    public double[] call(Byte zc, Double x, Double y) {
        if (!Vincenty.zone(zc) || !Vincenty.finite(x) || !Vincenty.finite(y)) return null;
        double[] out = new double[2];
        Vincenty.inverse(zc.intValue(), x, y, out);
        return out;
    }
}
