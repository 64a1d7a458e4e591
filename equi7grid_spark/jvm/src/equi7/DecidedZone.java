package equi7;

import java.io.Serializable;
import org.apache.spark.sql.api.java.UDF2;

/**
 * (lon, lat) -> tinyint primary zone code of the point's 1-degree
 * cell when the prefilter alone decides it (ZoneData.CELLS, the baked
 * zones.decided_cell_codes map), else null: a cell out of every zone
 * (-1) or one that needs the exact boundary parity (-2). lon is
 * normalized and lat clamped as in ZoneData.zoneCode, so the cell is
 * the one functions/geodesy_sql.cell_id_sql computes.
 *
 * Hostile input never throws: a null, NaN or infinite lon/lat yields
 * null. Registered as `equi7_decided_zone`.
 */
public class DecidedZone implements UDF2<Double, Double, Byte>, Serializable {
    @Override
    public Byte call(Double lon, Double lat) {
        if (!Vincenty.finite(lon) || !Vincenty.finite(lat)) return null;
        byte code = ZoneData.CELLS[ZoneData.cell(ZoneData.normLon(lon), ZoneData.clampLat(lat))];
        return code >= 0 ? code : null;
    }
}
