package equi7;

import java.io.Serializable;
import org.apache.spark.sql.api.java.UDF2;

/**
 * (lon, lat) -> [zc, x, y]: primary zone code plus the zone's AEQD
 * meters, or null when the point is outside every zone.
 *
 * The row-level one-call kernel: the same ZoneData.zoneCode +
 * Vincenty.forward calls ZoneTileKey makes, so x/y are bit-identical to
 * the equi7_xy chain -- without the cell-map and boundary-candidate
 * broadcast joins or the interpreted parity test.
 *
 * Hostile input never throws: a null, NaN or infinite lon/lat yields
 * null (out of every zone), so one bad row cannot fail a job.
 * Registered as `equi7_zone_xy`.
 */
public class ZoneXY implements UDF2<Double, Double, double[]>, Serializable {
    private static final ThreadLocal<double[]> SCRATCH =
            ThreadLocal.withInitial(() -> new double[2]);

    @Override
    public double[] call(Double lon, Double lat) {
        if (!Vincenty.finite(lon) || !Vincenty.finite(lat)) return null;
        int zc = ZoneData.zoneCode(lon, lat);
        if (zc < 0) return null;
        double[] xy = SCRATCH.get();
        Vincenty.forward(zc, lon, lat, xy);
        return new double[] {zc, xy[0], xy[1]};
    }
}
