SELECT l.EventType, count(*) AS Pairs
FROM (SELECT EventId, EventType FROM StormEvents) l
JOIN (SELECT EventType, EventId AS Other FROM StormEvents) r ON l.EventType = r.EventType
WHERE l.EventId < r.Other
GROUP BY l.EventType
ORDER BY l.EventType ASC NULLS FIRST
