SELECT EventId, State, EventType
FROM StormEvents
WHERE EventType IN ('Hail', 'Flood') AND State IN ('TEXAS', 'IOWA', 'KANSAS', 'NEBRASKA')
ORDER BY EventId ASC NULLS FIRST
