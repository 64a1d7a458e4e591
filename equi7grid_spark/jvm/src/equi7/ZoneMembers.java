package equi7;

import java.io.Serializable;
import java.nio.ByteBuffer;
import org.apache.spark.sql.api.java.UDF2;

/**
 * (lon, lat) -> array<int> of every BUFFERED zone containing the point,
 * ascending zone code. Buffered zones overlap past the continental
 * divides, so a point can belong to two zones (reference
 * tests/test_equi7grid.py:412-418).
 *
 * A zone is a member when the prefilter decides the point's 1-degree
 * cell fully inside it (the cell's IN mask bit), or when the cell's
 * boundary candidate for that zone passes ZoneData.parity -- the
 * two-leg arithmetic of the functions/zones_sql.membership_zone_sql
 * oracle and of zones_pip.membership_numpy, per (cell, zone) with no
 * ordering. lon is normalized and lat clamped as in ZoneData.zoneCode.
 *
 * Hostile input never throws: a null, NaN or infinite lon/lat yields
 * null. Registered as `equi7_zone_members`.
 */
public class ZoneMembers implements UDF2<Double, Double, int[]>, Serializable {

    /** Resource equi7/members.bin (scripts/build_zonedata.py), read on
     *  first call: zones_pip.membership_cands("bfrd") as a 7-bit IN
     *  mask per cell plus the per-cell boundary candidates. */
    private static final class Data {
        static final byte[] MASKS = new byte[ZoneData.NX * ZoneData.NY];
        static final ZoneData.Cand[][] CANDS;

        static {
            ByteBuffer b = ZoneData.resource("/equi7/members.bin");
            b.get(MASKS);
            CANDS = ZoneData.readCands(b);
        }
    }

    @Override
    public int[] call(Double lon, Double lat) {
        if (!Vincenty.finite(lon) || !Vincenty.finite(lat)) return null;
        double lonN = ZoneData.normLon(lon);
        double latC = ZoneData.clampLat(lat);
        int cell = ZoneData.cell(lonN, latC);
        int mask = Data.MASKS[cell] & 0xFF;
        ZoneData.Cand[] cands = Data.CANDS[cell];
        if (cands != null) {
            for (ZoneData.Cand cd : cands) {
                if (ZoneData.parity(cd, lonN, latC)) mask |= 1 << cd.zc;
            }
        }
        int[] out = new int[Integer.bitCount(mask)];
        for (int k = 0, zc = 0; mask != 0; zc++, mask >>>= 1) {
            if ((mask & 1) != 0) out[k++] = zc;
        }
        return out;
    }
}
