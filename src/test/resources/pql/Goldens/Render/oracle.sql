SELECT EventType,
       count(*) AS n,
       'barchart' AS render_type,
       'Events by type' AS render_prop_title,
       'EventType' AS render_prop_xcolumn,
       '10' AS render_prop_ymax
FROM StormEvents
GROUP BY EventType
ORDER BY EventType ASC NULLS FIRST
